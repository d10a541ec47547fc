package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-order operators: the deterministic "global shuffle" a training
  * run derives its data order from (not in the reference — north-star
  * pipeline surface).
  *
  * A 100 TB corpus is never shuffled by materializing a random permutation;
  * the order IS a hash: key = splitmix64(doc_id XOR salt(epoch)). That
  * gives
  *  - epoch-stable assignment (re-running epoch 3 yields byte-identical
  *    order — resumable training, reproducible ablations),
  *  - a fresh decorrelated permutation per epoch (different salt → a new
  *    avalanche of the same ids),
  *  - shard-local work: shard = key mod nShards routes each doc with no
  *    coordination, and ordering happens WITHIN each shard — nShards
  *    parallel sorts of corpus/nShards rows each, never one global sort.
  *
  * The key runs through the codegen'd [[VectorExpressions.Mix64Expr]]
  * kernel (ANSI mode traps the wrapping multiplies splitmix64 needs, so
  * built-ins can't spell it); the DuckDB oracle replays the identical
  * chain in HUGEINT and converts back to the signed ordering.
  */
object TrainingOrder {

  /** One epoch's shard/position assignment for every document.
    * Output: (doc_id, order_key, shard, pos) — `pos` is the document's
    * 1-based position within its shard under signed order-key order
    * (doc_id tie-break for the theoretical key-collision case). */
  def epochShuffle(docs: DataFrame, epoch: Long, nShards: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(nShards > 0, "need at least one shard")
    val spark = docs.sparkSession
    // driver-side salt: mixing the epoch first means epoch 0 is NOT the
    // identity salt and epochs 1,2,3... differ in all 64 bits
    val salt = VectorExpressions.mix64(epoch)
    val key = VectorExpressions.mix64Col(spark,
      col(idCol).bitwiseXOR(lit(salt)))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("order_key").asc, col(idCol).asc)
    docs.select(col(idCol), key.as("order_key"))
      .withColumn("shard", pmod(col("order_key"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
  }
}
