package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.llm.{Ann, AnnIndex, Checkpoints, Dedup, TextAnalysis}
import graft.tables.GraftTable

/** `curation`: passes of the training-data operators over a document
  * corpus and an embedding corpus, both stored as Graft tables:
  *
  *  - the text-dedup chain: exact duplicate groups, MinHash near-duplicate
  *    pairs, and the duplicate clusters of those pairs;
  *  - an IVF index build, then batches of 100 unique-id top-k queries;
  *  - TF-IDF keywords and embedding near-duplicate pairs.
  *
  * Nearly all time goes to `graft.llm` and Spark shuffles; the storage
  * layers see only the corpus scans and the index write.
  *
  * Roles: ingest = index build, serve = the top-k batch, batch = the
  * text-dedup chain, derive = TF-IDF plus embedding near-duplicates. */
final class Curation(ctx: Ctx) extends Workload {
  import Curation._
  import Workload._
  import ctx._
  import spark.implicits._

  val roles = Map("ingest" -> "ann_build", "serve" -> "ann_topk",
    "batch" -> "text_dedup", "derive" -> "features")

  private val docsPath = s"$dir/documents"
  private val embPath = s"$dir/embeddings"
  private val indexPath = s"$dir/ann_index"
  locally {
    val s = seed // a local, so the generator closures do not capture the workload
    spark.range(0, DOCS, 1, 4).as[Long].map(k => Gen.document(s, k))
      .write.format("graft").save(docsPath)
    spark.range(0, VECTORS, 1, 4).as[Long].map(k => Gen.embedding(s, k))
      .write.format("graft").save(embPath)
  }
  private val vectors = (0L until VECTORS).map(k => Gen.embedding(seed, k))

  /** Plain-Spark model of the exact groups: (keep_id, dup_cnt) per text. */
  private val exactModel: Seq[Row] = read(spark, docsPath).groupBy("text")
    .agg(min(col("doc_id")), count(lit(1))).drop("text").collect().toSeq

  // ---- layer counters ----
  private val log = new CommitLog(rec, () => cells)
  private val candidates = mutable.ArrayBuffer.empty[Long]
  private val verified = mutable.ArrayBuffer.empty[Long]
  private var lastQueries: Seq[(Long, Array[Float])] = Nil
  private var lastTopK: Seq[Row] = Nil

  private def cells = GraftTable.forPath(spark, s"${AnnIndex.tableRoot(indexPath)}/cells")

  /** 100 unique-id queries near seeded corpus vectors, new ones each batch. */
  private def queries(i: Int): Seq[(Long, Array[Float])] = {
    val ids = mutable.LinkedHashSet.empty[Long]
    var j = 0L
    while (ids.size < QUERIES) { ids += Gen.below(seed, i * 100003L + j, 71, VECTORS); j += 1 }
    ids.toSeq.zipWithIndex.map { case (id, q) =>
      q.toLong -> vectors(id.toInt).embedding.zipWithIndex.map { case (x, d) =>
        x + 0.05f * (Gen.unit(seed, (i * 1000L + q) * 128 + d, 72).toFloat - 0.5f) }
    }
  }

  def round(i: Int): Unit = {
    val docs = read(spark, docsPath)
    val emb = read(spark, embPath)
    val (groups, pairs, clusters) = rec.step("text_dedup", "llm") {
      val groups = rec.op("exact_groups", "llm")(
        Dedup.exactDuplicateGroups(docs, "doc_id", "text").collect())
      val pairs = rec.op("minhash", "llm")(
        Dedup.minhashNearDuplicates(docs, "doc_id", "text").collect())
      val pairList = pairs.toSeq.map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
      val clusters = rec.op("clusters", "llm")(
        Dedup.duplicateClusters(pairList.toDF("a_id", "b_id"), "a_id", "b_id").collect())
      (groups, pairList, clusters)
    }
    checks.sameRows(s"pass $i: exact duplicate groups vs groupBy(text)",
      groups.toSeq.map(r => Row(r.getAs[Long]("keep_id"), r.getAs[Long]("dup_cnt"))), exactModel)
    checks.sameRows(s"pass $i: duplicate clusters vs union-find", clusters.toSeq,
      unionFind(pairs).map { case (d, c) => Row(d, c) })

    rec.op("ann_build", "llm")(AnnIndex.build(spark, indexPath, emb, "vec_id", "embedding",
      nCentroids = CENTROIDS))
    log.afterCommit(VECTORS)

    val repeats = if (i < 0) 1 else REPEATS
    (0 until TOPK_BATCHES * repeats).foreach { b =>
      val qs = queries(i * TOPK_BATCHES * REPEATS + b)
      log.beforeRead()
      val topk = rec.op("ann_topk", "llm") {
        val df = AnnIndex.topK(spark, indexPath, qs.toDF("qid", "qvec"), "qid", "qvec", k = K)
        rec.step("plan", "rules")(df.queryExecution.executedPlan)
        df.collect()
      }
      rec.serveRows += topk.length
      checks.expect(topk.map(_.getAs[Long]("qid")).distinct.length == QUERIES,
        s"pass $i: top-k answered ${topk.map(_.getAs[Long]("qid")).distinct.length} of " +
        s"$QUERIES queries")
      lastQueries = qs; lastTopK = topk.toSeq
    }

    (0 until repeats).foreach { _ =>
      rec.step("features", "llm") {
        rec.op("tfidf", "llm")(TextAnalysis.tfidfTopK(docs, "doc_id", "text").collect())
        rec.op("embed_neardup", "llm")(Dedup.embeddingNearDuplicates(emb, "vec_id", "embedding")
          .collect())
      }
    }
    if (rec.traced && rec.recording) {
      candidates += Dedup.minhashCandidatePairs(docs, "doc_id", "text").count()
      verified += pairs.size
    }
    Checkpoints.releaseAll()
  }

  /** Driver-side union-find: (doc_id, smallest id of its component). */
  private def unionFind(pairs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(x => x -> find(x))
  }

  def finish(): Seq[Figure] = {
    // the index claims exact answers: the last pass's batch must equal brute force
    if (lastQueries.nonEmpty) {
      val brute = Ann.bruteTopK(read(spark, embPath), "vec_id", "embedding",
        lastQueries.toDF("qid", "qvec"), "qid", "qvec", k = K)
      checks.sameRows("top-k vs Ann.bruteTopK", lastTopK.map(r =>
        Row(r.getAs[Long]("qid"), r.getAs[Int]("rank"), r.getAs[Long]("nid"))),
        brute.select("qid", "rank", "nid").collect().toSeq)
    }
    val dedup = rec.ms("text_dedup")
    val topk = rec.ms("ann_topk")
    val build = rec.ms("ann_build")
    Seq(
      Figure("dedup_docs_per_s", if (dedup.isEmpty) Double.NaN else DOCS * 1000.0 / median(dedup),
        "docs/s", s"$DOCS documents through the text-dedup chain, median of n=${dedup.size}"),
      Figure("ann_queries_per_s", if (topk.isEmpty) Double.NaN else QUERIES * 1000.0 / median(topk),
        "q/s", s"$QUERIES-query batches, median of n=${topk.size}"),
      Figure("ann_build_s", if (build.isEmpty) Double.NaN else median(build) / 1000.0, "s",
        s"$VECTORS vectors, $CENTROIDS centroids, median of n=${build.size}"))
  }

  def layerCounters(): Map[String, Double] = log.counters() ++ Map(
    "llm.minhash_candidates" -> mean(candidates.map(_.toDouble)),
    "llm.minhash_precision" ->
      (if (candidates.sum == 0) 0.0 else verified.sum.toDouble / candidates.sum))
}

object Curation {
  val DOCS = 2000L
  val VECTORS = 1000L
  val CENTROIDS = 16
  val QUERIES = 100
  /** Top-k batches per pass, each with new queries. */
  val TOPK_BATCHES = 2
  /** A measured pass repeats the top-k batches and the feature step, whose
    * single samples vary most from run to run; their p50s are medians over
    * the repeats. The warm-up pass runs them once. */
  val REPEATS = 3
  val K = 10
}
