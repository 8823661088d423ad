package graft.perfbench

/** Deterministic data generators. Every value is a pure function of
  * (seed, key, salt), so the same seed builds the same fixtures and batches,
  * and the correctness model can recompute any base row on the driver
  * without reading the table under test. */
object Gen {
  def mix(z0: Long): Long = { // splitmix64 finalizer
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, key: Long, salt: Long): Long = mix(mix(seed * 1000003L + salt) ^ key)
  def below(seed: Long, key: Long, salt: Long, n: Long): Long =
    java.lang.Math.floorMod(h(seed, key, salt), n)
  def unit(seed: Long, key: Long, salt: Long): Double =
    (h(seed, key, salt) >>> 11) * (1.0 / (1L << 53))

  val PRIORITIES = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val STATUSES = Array("F", "O", "P")
  val EVENT_TYPES = Array("view", "click", "cart", "buy", "error", "signup")
  private val EPOCH_DAY_1992 = 8035L // 1992-01-01

  /** Orders-like rows, PK `o_orderkey`; `version` perturbs every non-key
    * column so an upsert image differs from the base row. */
  def order(seed: Long, key: Long, version: Long): Order = {
    val s = seed + version * 7919L
    Order(key, 1L + below(s, key, 1, 15000), STATUSES(below(s, key, 2, 3).toInt),
      10000L + below(s, key, 3, 50000000L),
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
        EPOCH_DAY_1992 + below(s, key, 4, 2400))),
      PRIORITIES(below(s, key, 5, 5).toInt),
      s"c${java.lang.Long.toString(h(s, key, 6) & 0xffffffffffL, 36)} v$version")
  }

  /** Four line items per order, bucketed on `l_orderkey` like orders. */
  def lineitem(seed: Long, orderKey: Long, line: Int): Lineitem =
    Lineitem(orderKey, line, 1L + below(seed, orderKey * 8 + line, 11, 20000),
      1L + below(seed, orderKey * 8 + line, 12, 50),
      100L + below(seed, orderKey * 8 + line, 13, 10000000L),
      below(seed, orderKey * 8 + line, 14, 11))

  def event(seed: Long, id: Long): Event =
    Event(id, new java.sql.Timestamp(1704067200000L + id * 1000L +
      below(seed, id, 21, 1000)),
      below(seed, id, 22, 2000), EVENT_TYPES(below(seed, id, 23, 6).toInt),
      below(seed, id, 24, 100000), s"""{"k": ${below(seed, id, 25, 100)}}""")

  /** A synthetic word vocabulary drawn Zipf-like, so term frequencies and
    * shingle overlaps look like text. */
  private def word(seed: Long, doc: Long, pos: Long): String = {
    val u = unit(seed, doc * 4096 + pos, 31)
    val rank = (math.pow(u, 2.2) * 3000).toLong
    "w" + java.lang.Long.toString(rank, 36)
  }

  /** Documents with planted duplicates: about 4% are exact copies of an
    * earlier document and 8% are near copies (a few words replaced), so
    * exact grouping, MinHash verification and clustering all have work. */
  def document(seed: Long, id: Long): Document = {
    val kind = below(seed, id, 32, 100)
    val text =
      if (id >= 10 && kind < 4) baseText(seed, below(seed, id, 33, id))
      else if (id >= 10 && kind < 12) {
        val src = baseText(seed, below(seed, id, 34, id)).split(' ')
        src.indices.map(i =>
          if (below(seed, id * 1024 + i, 35, 25) == 0) word(seed, id + 7777777L, i)
          else src(i)).mkString(" ")
      } else baseText(seed, id)
    Document(id, text, if (below(seed, id, 36, 3) == 0) "de" else "en",
      s"src${below(seed, id, 37, 4)}")
  }
  private def baseText(seed: Long, id: Long): String = {
    val n = 30 + below(seed, id, 38, 90).toInt
    (0 until n).map(i => word(seed, id, i)).mkString(" ")
  }

  /** Vectors around 16 seeded centres; about 6% are near copies of an
    * earlier vector (cosine above 0.99) for the embedding near-dup pass. */
  val DIM = 64
  def embedding(seed: Long, id: Long): Embedding = {
    val label = below(seed, id, 41, 16).toInt
    val near = id >= 10 && below(seed, id, 42, 100) < 6
    val src = if (near) below(seed, id, 43, id) else id
    val base = vector(seed, if (near) src else id,
      if (near) below(seed, src, 41, 16).toInt else label)
    val v = if (near) base.indices.map(i =>
        base(i) + 0.002f * (unit(seed, id * 128 + i, 44).toFloat - 0.5f)).toArray
      else base
    Embedding(id, v, if (near) below(seed, src, 41, 16).toInt else label)
  }
  private def vector(seed: Long, id: Long, label: Int): Array[Float] =
    Array.tabulate(DIM) { i =>
      val c = unit(seed, label * 128L + i, 45) - 0.5
      val noise = unit(seed, id * 128L + i, 46) - 0.5
      (c + 0.6 * noise).toFloat
    }
}

final case class Order(
    o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
    o_totalcents: Long, o_orderdate: java.sql.Date, o_orderpriority: String,
    o_comment: String)
final case class Lineitem(
    l_orderkey: Long, l_linenumber: Int, l_partkey: Long, l_quantity: Long,
    l_extendedcents: Long, l_discount: Long)
final case class Event(
    event_id: Long, ts: java.sql.Timestamp, user_id: Long, event_type: String,
    value: Long, props: String)
final case class Document(doc_id: Long, text: String, lang: String, source: String)
final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)
