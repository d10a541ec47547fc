package graft.perfbench

import java.security.MessageDigest

/** Seeded input generators. Every value is a pure function of (seed, index)
  * through splitmix64, so a workload's inputs are fixed by its seed alone and
  * the engine only ever sees the generated rows. */
object Gen {

  def mix64(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform double in [0, 1) keyed by (seed, stream, index). */
  def unit(seed: Long, stream: Long, i: Long): Double =
    (mix64(mix64(seed * 0x632BE59BD9B4E019L + stream) + i) >>> 11).toDouble /
      9007199254740992.0

  def below(seed: Long, stream: Long, i: Long, n: Int): Int =
    (unit(seed, stream, i) * n).toInt

  /** Zipf(s) rank sampler over 1..n by inverse CDF on a precomputed table. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    /** 0-based rank for a uniform draw `u` in [0, 1). */
    def rank(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = md.update(s.getBytes("UTF-8"))
    def hex: String = md.digest().map("%02x".format(_)).mkString
  }

  // ---- stream_cdc: keyed change events in the events.parquet shape ----

  /** One change event. `key` is the event_id the table is keyed on; the
    * other attributes follow from the key, except `valueCents` (the
    * payload an update changes) and the event time, which advances two
    * hours per cycle so commits keep opening new day partitions. */
  final case class Event(key: Long, tsMicros: Long, userId: Long,
      eventType: String, valueCents: Long, props: String) {
    def value: Double = valueCents / 100.0
  }

  val EventTypes: IndexedSeq[String] =
    IndexedSeq("view", "click", "cart", "purchase", "search", "share")
  private val eventTypeZipf = new Zipf(EventTypes.size, 1.1)
  /** 2024-03-01T00:00:00Z. */
  val EventEpochMicros = 1709251200000000L

  def event(seed: Long, key: Long, valueCents: Long, cycle: Int): Event = Event(
    key = key,
    tsMicros = EventEpochMicros + cycle * 7200L * 1000000L +
      below(seed, 1, key, 600) * 1000000L,
    userId = below(seed, 2, key, 5000).toLong,
    eventType = EventTypes(eventTypeZipf.rank(unit(seed, 3, key))),
    valueCents = valueCents,
    props = s"""{"src":"s${below(seed, 5, key, 12)}","w":${below(seed, 6, key, 1000)}}""")

  /** One cycle's source change: `upserts` (key -> value) carry Zipf-skewed
    * updates of live keys plus fresh keys; `retract` lists live keys to
    * erase (empty except every `retractEvery`-th cycle). Keys are unique
    * within a cycle, and a retracted key is never written again. */
  final case class Change(cycle: Int, upserts: Seq[(Long, Long)],
      retract: Seq[Long])

  final class ChangeStream(seed: Long, initialKeys: Int, updatesPerCycle: Int,
      newPerCycle: Int, retractEvery: Int, retractPerCycle: Int) {
    /** The independently folded current state: key -> value. */
    val state = new java.util.HashMap[Long, Long]()
    // live keys in insertion order; retracted slots are swapped out, so
    // the Zipf rank addresses a dense array
    private val live = new scala.collection.mutable.ArrayBuffer[Long]()
    private val liveIdx = new java.util.HashMap[Long, Int]()
    private var nextKey = 0L
    private val zipf = new Zipf(initialKeys, 0.9)
    private var cycle = 0
    private val digest = new Digest

    private def value(k: Long, c: Int): Long =
      (mix64(seed ^ (k * 31 + c)) & 0xFFFFF) // cents; 20 bits keep sums exact

    private def addLive(k: Long): Unit = { liveIdx.put(k, live.size); live += k }

    /** The initial bronze rows (cycle 0). */
    def initial(): Seq[(Long, Long)] = {
      val rows = (0 until initialKeys).map { _ =>
        val k = nextKey; nextKey += 1
        val v = value(k, 0)
        state.put(k, v); addLive(k)
        k -> v
      }
      rows.foreach { case (k, v) => digest.add(s"i$k:$v") }
      rows
    }

    def next(): Change = {
      cycle += 1
      val c = cycle
      val touched = scala.collection.mutable.LinkedHashMap[Long, Long]()
      var draw = 0L
      while (touched.size < updatesPerCycle && live.nonEmpty) {
        val r = zipf.rank(unit(seed, 7, c.toLong * 1000003L + draw))
        draw += 1
        val k = live(r % live.size)
        if (!touched.contains(k)) touched(k) = value(k, c)
      }
      (0 until newPerCycle).foreach { _ =>
        val k = nextKey; nextKey += 1
        touched(k) = value(k, c)
      }
      touched.foreach { case (k, v) =>
        if (!state.containsKey(k)) addLive(k)
        state.put(k, v)
      }
      val retract =
        if (retractEvery > 0 && c % retractEvery == 0) {
          val picked = scala.collection.mutable.LinkedHashSet[Long]()
          var j = 0L
          while (picked.size < retractPerCycle && live.size > picked.size) {
            val k = live(below(seed, 8, c.toLong * 1000003L + j, live.size))
            j += 1
            if (!touched.contains(k)) picked += k
          }
          picked.foreach { k =>
            state.remove(k)
            val at = liveIdx.remove(k)
            val last = live.last
            live(at) = last; live.remove(live.size - 1)
            if (last != k) liveIdx.put(last, at)
          }
          picked.toSeq
        } else Nil
      touched.foreach { case (k, v) => digest.add(s"u$c:$k:$v") }
      retract.foreach(k => digest.add(s"r$c:$k"))
      Change(c, touched.toSeq, retract)
    }

    def inputDigest: String = digest.hex
  }

  // ---- llm_curation: a corpus with planted duplicates ----

  final case class Doc(docId: Long, lang: String, text: String)

  /** One curation shard: documents, their embeddings, and the planted
    * answers the output checks compare against. `exactDupOf` maps a planted
    * exact copy to its original; `nearPairs` are the planted near-duplicate
    * (original, copy) pairs with their true 5-shingle Jaccard. */
  final case class Shard(docs: IndexedSeq[Doc], embeddings: IndexedSeq[(Long, Array[Float])],
      exactDupOf: Map[Long, Long], nearPairs: Seq[(Long, Long, Double)],
      embedPairs: Seq[(Long, Long)])

  private val Langs = IndexedSeq("en", "de", "fr", "es")
  private val Vocab: Map[String, IndexedSeq[String]] = {
    val en = IndexedSeq("the", "of", "and", "to", "in", "is", "that", "for",
      "it", "with", "as", "was", "on", "be", "by")
    Langs.map { l =>
      val stop = if (l == "en") en else (0 until 15).map(i => s"${l}w$i")
      val content = (0 until 3000).map { i =>
        val len = 3 + below(l.hashCode.toLong, 9, i, 6)
        (0 until len).map(j =>
          ('a' + below(l.hashCode.toLong, 10, i * 16L + j, 26)).toChar).mkString
      }
      l -> (stop ++ content)
    }.toMap
  }
  private val vocabZipf = new Zipf(3015, 1.05)

  def shingles(text: String, n: Int = 5): Set[String] = {
    val t = text.split(" ")
    if (t.length < n) Set(t.mkString(" "))
    else t.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size

  /** `n` documents (ids from `firstId`): ~8% exact copies, ~8% near copies
    * with one token in every 40 replaced (5-shingle Jaccard ≈ 0.78), the
    * rest fresh. Embeddings: 64-d, a near copy's vector is its original's
    * plus tiny noise (cosine ≈ 1); the rest scatter around 32 cluster
    * centres with noise as wide as the centres (cosine to a cluster mate
    * ≈ 0.5), so only planted copies clear a high cosine threshold. */
  def shard(seed: Long, shardNo: Int, n: Int, firstId: Long): Shard = {
    val s = seed * 7919L + shardNo
    val docs = new scala.collection.mutable.ArrayBuffer[Doc](n)
    val exact = Map.newBuilder[Long, Long]
    val near = Seq.newBuilder[(Long, Long, Double)]
    val centres = Array.tabulate(32, 64)((c, d) =>
      (unit(seed, 11, c * 64L + d) * 2 - 1).toFloat)
    val emb = new scala.collection.mutable.ArrayBuffer[(Long, Array[Float])](n)
    val embedPairs = Seq.newBuilder[(Long, Long)]
    def freshDoc(id: Long): Doc = {
      val lang = Langs(below(s, 12, id, Langs.size))
      val words = Vocab(lang)
      val len = 60 + below(s, 13, id, 120)
      val toks = (0 until len).map(j =>
        words(vocabZipf.rank(unit(s, 14, id * 4096L + j))))
      Doc(id, lang, toks.mkString(" "))
    }
    def vec(id: Long): Array[Float] = {
      val c = centres(below(s, 15, id, 32))
      Array.tabulate(64)(d => c(d) + (unit(s, 16, id * 64L + d) * 2 - 1).toFloat)
    }
    // originals are drawn from fresh documents only, so every planted
    // relation is one hop: copy -> original
    val fresh = new scala.collection.mutable.ArrayBuffer[Int]()
    (0 until n).foreach { j =>
      val id = firstId + j
      val r = unit(s, 17, id)
      if (fresh.size >= 20 && r < 0.16) {
        val oj = fresh(below(s, 18, id, fresh.size))
        val orig = docs(oj)
        if (r < 0.08) {
          docs += Doc(id, orig.lang, orig.text)
          exact += id -> orig.docId
          emb += id -> vec(id)
        } else {
          val toks = orig.text.split(" ")
          val words = Vocab(orig.lang)
          val edited = toks.indices.map(t =>
            if (t % 40 == 17) words(15 + below(s, 19, id * 4096L + t, 3000))
            else toks(t))
          val d = Doc(id, orig.lang, edited.mkString(" "))
          docs += d
          near += ((orig.docId, id, jaccard(shingles(orig.text), shingles(d.text))))
          emb += id -> emb(oj)._2.map(x => x + (unit(s, 20, id) - 0.5).toFloat * 0.01f)
          embedPairs += ((orig.docId, id))
        }
      } else {
        fresh += j
        docs += freshDoc(id)
        emb += id -> vec(id)
      }
    }
    Shard(docs.toIndexedSeq, emb.toIndexedSeq, exact.result(), near.result(),
      embedPairs.result())
  }
}
