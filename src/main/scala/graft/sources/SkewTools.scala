package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for joins whose hot keys overwhelm single tasks.
  *
  * AQE's skew-join split handles sort-merge joins at runtime; explicit
  * salting remains the tool when (a) the small side is too big to
  * broadcast but fine to replicate `salts`×, and (b) the key distribution
  * is known-pathological (a handful of keys holding most rows — the shape
  * web-scale training corpora produce, e.g. boilerplate dedup keys).
  *
  * `saltedJoin` spreads each hot key over `salts` reducers: the big side
  * gets a random-but-deterministic salt per row (hash of all columns), the
  * small side is exploded `salts`× so every (key, salt) combination finds
  * its match. Results are exactly those of the plain join.
  */
object SkewTools {

  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      salts: Int = 8): DataFrame = {
    require(salts > 0)
    val saltedBig = big.withColumn("_salt",
      pmod(hash(big.columns.map(col).toSeq: _*), lit(salts)))
    val saltedSmall = small.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedBig.join(saltedSmall, Seq(key, "_salt")).drop("_salt")
  }
}
