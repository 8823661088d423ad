package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for document corpora.
  *
  * Scale design: every method is banded/bucketed — candidate pairs are only
  * generated WITHIN a join key (content hash, shared shingle, LSH band),
  * never via an all-pairs cross join — and no hot path evaluates a
  * higher-order-function lambda (those run interpreted in Spark). Word
  * k-grams and MinHash signatures come from one compiled per-document
  * kernel ([[Shingles]]). At 100 TB the hot shingles are the skew risk;
  * `maxKeyFreq` drops join keys whose document frequency exceeds a cutoff
  * (the standard prefix-filter trick).
  */
object Dedup extends org.apache.spark.internal.Logging {

  /** Exact duplicate groups by content hash (hash-groupBy, one shuffle of
    * (hash, id) pairs only — never the text). */
  def exactDuplicateGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Word k-gram shingles as ROWS (doc_id, s), built per document by the
    * [[Shingles]] kernel and exploded — zero shuffles. `dedupe` keeps each
    * document's first occurrence of a shingle only; pair-counting
    * consumers need it. */
  def shingleRows(
      df: DataFrame, idCol: String, textCol: String, k: Int = 3,
      dedupe: Boolean = true): DataFrame =
    // parallelism floor: tokenizing is the scan stage's dominant compute
    // and otherwise runs on however few splits the table planned
    Parallelism.fanOut(df, idCol).select(col(idCol).as("doc_id"), explode(
      Shingles.gramsCol(TextAnalysis.tokens(col(textCol)), k, dedupe)).as("s"))

  /** Word k-gram shingles as a per-row array column: each shingle's first
    * occurrence, in text order. Null text and texts with fewer than `k`
    * tokens give an empty array. */
  def shingles(text: Column, k: Int = 3): Column =
    Shingles.gramsCol(TextAnalysis.tokens(text), k, distinct = true)

  /** Exact n-gram-Jaccard near-duplicate pairs via an inverted shingle
    * index: self-join on shingle, count shared shingles per pair. Returns
    * integer columns only: (a_id, b_id, inter, a_size, b_size) for pairs
    * with >= minInter shared shingles.
    * Jaccard = inter / (a_size + b_size - inter).
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, minInter: Int = 3, maxKeyFreq: Int = 1000): DataFrame = {
    // stabilized (eager localCheckpoint by default): the hot-shingle
    // aggregate, both self-join sides and the per-doc sizes all read this
    // frame — one tokenize pass, truncated lineage, no CacheManager entry
    // (persist() plan-matching taxed every later query in the session).
    // 128-bit shingle identity (two independently-seeded xxhash64 halves):
    // the inverted-index join and the hot-key aggregate shuffle 16-byte
    // keys instead of raw shingle strings — the same exactness-by-wide-hash
    // contract [[exactDuplicateGroups]]'s md5 groupBy rests on (collision
    // odds across 10^10 distinct shingles ≈ 10^-19; a collision could only
    // ever inflate one pair's `inter` by 1). Strings leave the plan right
    // after the tokenizer, so the shuffled bytes drop ~2-3× and the join
    // compares longs, not text.
    // LAZY: the FIRST action is the `filtered` materialization right below,
    // whose hot-aggregate stage computes these blocks before the anti-join
    // probe stage reads them — one scheduled job covers both
    val sh = Checkpoints.stabilize(
      shingleRows(df, idCol, textCol, k).select(col("doc_id"),
        xxhash64(col("s")).as("h1"), xxhash64(lit(1L), col("s")).as("h2")),
      eager = false)
    // skew guard: drop shingles shared by too many documents. A hash
    // aggregate + anti-join — where a count-over-window would shuffle AND
    // sort every (doc_id, shingle) row just to learn each shingle's
    // frequency. No broadcast hint: the hot set is usually tiny, but with a
    // low maxKeyFreq over a huge corpus it can exceed broadcast limits — AQE
    // picks broadcast at runtime when the aggregated side actually is small.
    val hot = sh.groupBy("h1", "h2").agg(count(lit(1)).as("freq"))
      .filter(col("freq") > maxKeyFreq).select("h1", "h2")
    // stabilized: FOUR consumers read this frame (both pair-join sides and
    // both size-join subtrees) — unstabilized, each re-ran the frequency
    // aggregate + anti-join (the r13 plan carried four copies of that
    // Exchange+HashAggregate pass)
    val filtered = Checkpoints.stabilize(
      sh.join(hot, Seq("h1", "h2"), "left_anti"))
    pairStats(filtered).filter(col("inter") >= minInter)
  }

  /** Substring-level exact dedup: maximal word spans made of k-grams that
    * occur in at least `minDocs` DISTINCT documents (the span-granular
    * dedup of Lee et al. 2022, arXiv:2107.06499 — doc-level dedup misses
    * boilerplate shared across otherwise-unique pages; this finds the
    * shared regions themselves). Returns one row per maximal span:
    * (doc_id, span_start, span_end, span_words), 0-based inclusive word
    * indices over the [[TextAnalysis.tokens]] tokenization.
    *
    * Shape: positional k-gram hashes are assembled narrowly per document
    * (strings die at the tokenizer; every shuffle carries
    * (doc_id, pos, 16-byte hash) rows only), cross-document frequency is
    * one hash aggregate on the gram key, duplicated positions come back
    * via a semi-join, and overlapping/adjacent positions merge into
    * maximal spans with a doc-local gaps-and-islands window (positions
    * p1 < p2 merge iff p2 <= p1 + k, i.e. their spans touch or overlap).
    * No pair join anywhere — unlike near-dup pair producers, a gram shared
    * by a million documents costs one aggregate group here, never a
    * quadratic candidate blow-up, so no hot-key cap is needed.
    * 100 TB: two compact-key shuffles (gram hash, then doc_id) plus a
    * doc-local sort; both linear in corpus positions. */
  def duplicateSpans(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = Shingles.gramsCol(TextAnalysis.tokens(col(textCol)), k,
      distinct = false)
    // 128-bit gram identity — same exactness-by-wide-hash contract as
    // [[ngramJaccardPairs]]; a collision could only extend one span by
    // one gram. Strings die right after the explode.
    // stabilized: the frequency aggregate and the semi-join probe both
    // read it — one tokenize pass (fanned out: tokenizing dominates the
    // scan stage). LAZY: the dup-frequency broadcast build is the first
    // consumer and doubles as the materialization job
    val pos = Checkpoints.stabilize(
      Parallelism.fanOut(df, idCol)
        .select(col(idCol).as("doc_id"), posexplode(grams).as(Seq("p", "g")))
        .select(col("doc_id"), col("p").cast("long").as("p"),
          xxhash64(col("g")).as("h1"), xxhash64(lit(1L), col("g")).as("h2")),
      eager = false)
    val dup = pos.groupBy("h1", "h2")
      .agg(countDistinct(col("doc_id")).as("docs"))
      .filter(col("docs") >= minDocs).select("h1", "h2")
    val hits = pos.join(dup, Seq("h1", "h2"), "left_semi")
    val w = Window.partitionBy("doc_id").orderBy("p")
    val prev = lag(col("p"), 1).over(w)
    val flagged = hits.select(col("doc_id"), col("p"),
      when(prev.isNull || col("p") > prev + k, 1L).otherwise(0L).as("ni"))
    flagged.withColumn("island", sum(col("ni")).over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("p")).as("span_start"),
        (max(col("p")) + (k - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_words"))
  }

  /** Rebuild each document's text with the words inside `spans` removed
    * (the scrub that pairs with [[duplicateSpans]] — feed it that output,
    * optionally filtered to keep one canonical copy). Output text is the
    * normalized token stream ([[TextAnalysis.tokens]] loses casing and
    * punctuation — this matches how the spans were addressed). Returns
    * (idCol, textCol, removed_words). Doc-local: the only shuffle is the
    * span-list aggregate on doc_id; the per-token filter runs inside the
    * row (spans per doc are few — bounded by text length / k). */
  def scrubSpans(
      df: DataFrame, spans: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val sp = spans.groupBy(col("doc_id").as(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("_sp"))
    val toks = TextAnalysis.tokens(col(textCol))
    // zip each token with its 0-based position, keep those outside every span
    val indexed = zip_with(toks,
      sequence(lit(0L), greatest(size(toks).cast("long") - 1L, lit(0L))),
      (t, i) => struct(t.as("t"), i.as("i")))
    val kept = filter(indexed, e => !exists(col("_sp"),
      s => e("i") >= s("span_start") && e("i") <= s("span_end")))
    df.join(sp, Seq(idCol), "left")
      .select(col(idCol),
        when(col("_sp").isNull, concat_ws(" ", toks))
          .otherwise(concat_ws(" ", transform(kept, e => e("t"))))
          .as(textCol),
        when(col("_sp").isNull, lit(0L))
          .otherwise(size(toks).cast("long") - size(kept))
          .as("removed_words"))
  }

  /** (a_id, b_id, inter, a_size, b_size) for every pair of docs sharing at
    * least one row in `sh` (doc_id, h1, h2). */
  private def pairStats(sh: DataFrame): DataFrame = {
    // stabilized: joined back twice (a_size, b_size) — each join otherwise
    // re-instantiates the size-aggregate subtree over the full input
    val sizes = Checkpoints.stabilize(
      sh.groupBy("doc_id").agg(count(lit(1)).as("sz")))
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.h1") === col("b.h1") && col("a.h2") === col("b.h2") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("sz", "a_size"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("sz", "b_size"), "b_id")
      .select("a_id", "b_id", "inter", "a_size", "b_size")
  }

  /** Connected components over a near-duplicate PAIR list: every document
    * in a duplicate cluster labels itself with the cluster's minimum id
    * (the canonical representative), via iterative min-label propagation —
    * each round every node adopts the minimum label among itself and its
    * neighbors, so labels spread one hop per round and the loop stops when
    * a round changes nothing.
    *
    * Scale: the driver loop iterates over ROUNDS, never rows — each round
    * is one distributed join + partial aggregate, and the round count is
    * bounded by the cluster DIAMETER (near-dup clusters are hub-shaped;
    * single digits even at corpus scale), not corpus size. Labels are
    * re-stabilized each round (lineage stays O(1), not O(rounds)). This is
    * the pairs→clusters→keep-one step that turns any pair producer
    * ([[ngramJaccardPairs]], [[minhashNearDuplicates]], SimHash) into an
    * actionable dedup. Returns (doc_id, cluster_id) for every paired doc.
    */
  def duplicateClusters(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50): DataFrame = {
    // stabilize the PAIR LIST first: the bidirectional edge union reads it
    // twice, and an unmaterialized pair pipeline (shingle index + verify)
    // would run end-to-end once per branch. LAZY: the size-gate collect
    // below is the first action and doubles as the materialization job
    // (Spark materializes any partitions the limit skipped before
    // truncating lineage)
    val p0 = Checkpoints.stabilize(pairs.select(
      col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b")),
      eager = false)
    // ADAPTIVE small-graph path (same philosophy as the IVF flat
    // fallback): below a pair-count threshold the distributed rounds are
    // pure scheduling overhead — each round is 2 shuffles + an eager
    // materialization job, and near-dup pair lists are usually orders of
    // magnitude smaller than the corpus that produced them. A driver
    // union-find over the (already materialized) pair list computes the
    // SAME min-label components in one collect. The threshold bounds
    // driver memory explicitly (default 1M pairs ≈ 16 MB of longs); the
    // distributed loop remains the path for genuinely huge graphs.
    val localMax = pairs.sparkSession.conf
      .getOption("spark.graft.dedup.localClusterMaxPairs").map(_.toLong)
      .getOrElse(1L << 20)
    require(localMax >= 0,
      "spark.graft.dedup.localClusterMaxPairs must be in [0, " +
      s"${Int.MaxValue}), got $localMax")
    // ONE action decides the path AND (on the local path) delivers the
    // rows: limit(localMax+1) returns everything when the list fits, and
    // its (localMax+1)th row is the overflow signal — the previous
    // count-then-collect spelling paid two scheduled jobs for the same
    // information. Driver memory stays bounded by localMax either way. At
    // localMax >= Int.MaxValue the Int limit could not return that overflow
    // row, so such a cap always takes the distributed path.
    if (localMax < Int.MaxValue) {
      val gate = p0.limit((localMax + 1L).toInt).collect()
      if (gate.length <= localMax) return localClusters(p0.sparkSession, gate)
    }
    // cache edges PRE-PARTITIONED on the join key: every round joins on
    // dst, and a cached hash layout means only the (small) label side
    // shuffles per round, never the edge list
    val edges = Checkpoints.stabilize(
      p0.select(col("a").as("src"), col("b").as("dst"))
        .union(p0.select(col("b").as("src"), col("a").as("dst")))
        .repartition(col("dst")))
    var labels = Checkpoints.stabilize(
      edges.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("cluster_id")))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("cluster_id").as("nc")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("nc")).as("nbr_min"))
      // convergence rides the materialization job itself: `chg` is counted
      // by an accumulator inside the round's ONE stabilize action instead
      // of a second probe job per round
      val (updated, anyChanged) = Checkpoints.stabilizeFlagged(
        labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
              .as("cluster_id"),
            (coalesce(col("nbr_min"), col("cluster_id")) < col("cluster_id"))
              .as("chg")))
      converged = !anyChanged
      labels = updated
      i += 1
    }
    // partially-propagated labels would split one real cluster into
    // several and downstream keep-one dedup would silently keep
    // duplicates — refuse to return them
    if (!converged) throw new IllegalStateException(
      s"duplicateClusters did not converge within $maxIter rounds: a " +
      "duplicate chain is longer than maxIter hops; raise maxIter")
    labels.select(col("id").as("doc_id"), col("cluster_id"))
  }

  /** Driver union-find over a small, already-collected pair list:
    * identical (doc_id, cluster_id = min member id) output as the
    * distributed loop, zero extra jobs (the caller's gate collect already
    * delivered the rows). */
  private def localClusters(
      spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var r = x0
      while (parent(r) != r) r = parent(r)
      var x = x0 // path compression
      while (parent(x) != r) { val nxt = parent(x); parent(x) = r; x = nxt }
      r
    }
    rows.foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val (ra, rb) = (find(a), find(b))
      // union by MIN root: the root IS the canonical min member, so no
      // second pass is needed to compute per-component minima
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    import spark.implicits._
    parent.keys.toSeq.sorted.map(id => (id, find(id)))
      .toDF("doc_id", "cluster_id")
  }

  /** The dedup pipeline's final step: drop every document that belongs to
    * a duplicate cluster but is not its canonical representative (the
    * cluster's minimum id, as labeled by [[duplicateClusters]]). Documents
    * in no cluster pass through untouched. No broadcast hint on the
    * anti-join: the drop set is usually small (duplicates minus one per
    * cluster) and AQE picks broadcast at runtime when it is — but a
    * heavily-duplicated 100 TB corpus can have a drop set far beyond
    * broadcast limits, where a forced hint would OOM the build side.
    *
    * `keepCanonical(df, "id", duplicateClusters(pairs, "a", "b"))` turns
    * any pair producer ([[ngramJaccardPairs]], [[minhashNearDuplicates]],
    * SimHash, [[embeddingNearDuplicates]]) into an applied dedup. */
  def keepCanonical(
      df: DataFrame, idCol: String, clusters: DataFrame): DataFrame = {
    val drops = clusters.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("__graft_drop_id"))
    df.join(drops, col(s"`${idCol.replace("`", "``")}`") ===
      col("__graft_drop_id"), "left_anti")
  }

  /** Benchmark-contamination check (decontamination): for every training
    * document sharing at least `minOverlap` distinct word `k`-grams with an
    * evaluation document, emit (train_id, eval_id, overlap). Training sets
    * containing eval data inflate benchmark scores; this is the standard
    * n-gram-overlap filter run before training.
    *
    * Scale: the eval index is broadcast — benchmark suites are MBs while
    * the corpus is the 100 TB side, so the train shingle stream is NEVER
    * shuffled; contamination runs at scan speed as a broadcast hash join +
    * partial aggregate. (For an atypically huge eval set, drop the hint
    * and AQE picks the join side.) */
  def contamination(
      train: DataFrame, eval: DataFrame, idCol: String, textCol: String,
      k: Int = 5, minOverlap: Int = 1): DataFrame = {
    val trainSh = shingleRows(train, idCol, textCol, k)
    val evalSh = shingleRows(eval, idCol, textCol, k)
      .withColumnRenamed("doc_id", "eval_id")
    trainSh.join(broadcast(evalSh), "s")
      .groupBy(col("doc_id").as("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= minOverlap)
  }

  /** MinHash signatures (doc_id, sig: array<bigint>[numHashes]), one row
    * per input row that has at least `shingleK` tokens. Each shingle is
    * hashed once (xxhash64); the hash functions derive from it with a
    * rotate-xor family `g_i(h) = rotl(h, r_i) ^ c_i` under fixed constants
    * (see [[Shingles]]). One narrow projection: no explode, no shuffle. */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, shingleK: Int = 3): DataFrame =
    // parallelism floor: tokenizing is the scan stage's dominant compute
    Parallelism.fanOut(df, idCol)
      .select(col(idCol).as("doc_id"), Shingles.minhashCol(
        TextAnalysis.tokens(col(textCol)), shingleK, numHashes).as("sig"))
      .filter(col("sig").isNotNull)

  /** Per-document banded LSH keys `(doc_id, band, key)` — the unit both the
    * self-join dedup and the persistent [[MinhashIndex]] consume. A
    * document's rows depend only on ITS text (signatures are per-doc), so
    * banding is stable across batches — the property that makes
    * incremental indexing equal batch recomputation. */
  def bandedSignatureRows(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleK: Int = 3): DataFrame = {
    // a non-dividing band count would silently ignore the trailing
    // signature entries (paid for, never consulted) and quietly change the
    // s-curve from the requested tuning — make the contract explicit
    require(numHashes % bands == 0,
      s"minhash banding: bands=$bands must divide numHashes=$numHashes " +
      "(bands * rowsPerBand == numHashes)")
    val rows = numHashes / bands
    val sig = minhashSignatures(df, idCol, textCol, numHashes, shingleK)
    sig.select(col("doc_id"), explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          hash(slice(col("sig"), b * rows + 1, rows), lit(b)).as("key"))): _*))
        .as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.key"))
  }

  /** Banded-LSH candidate pairs over MinHash signatures: documents sharing
    * any band key become candidates (pairs only WITHIN a band bucket —
    * never O(n^2)). Classic s-curve tuning: bands * rows == numHashes. */
  def minhashCandidatePairs(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleK: Int = 3): DataFrame = {
    // eager localCheckpoint: the band self-join consumes this frame twice —
    // without it the tokenize + signature scan runs twice
    val banded = bandedSignatureRows(df, idCol, textCol, numHashes, bands,
        shingleK)
      .transform(Checkpoints.stabilize)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
  }

  /** Conf key for [[embeddingNearDuplicates]]'s oversized-bucket cap
    * (used when the `maxBucketSize` argument is 0). Default 250: with a
    * FIXED numPlanes the per-bucket population grows linearly with the
    * corpus, so the within-bucket pair join is quadratic in corpus size
    * — measured 133x wall-clock for 10x data at sf1 before the cap. At
    * 250 the pair work is ~n*cap (linear) and the same sf1 run lands at
    * 5x; sub-buckets only split DIRECTIONS, and 0.95-cosine near-dups
    * have near-identical residuals, so they stay together.
    *
    * BEHAVIOR CHANGE NOTE: the default cap CHANGES OUTPUT for corpora
    * whose buckets exceed 250 members — pairs across sub-buckets of a
    * split bucket are forgone (every emitted pair stays exact and above
    * threshold). Callers needing the pre-cap recall set `maxBucketSize`
    * (or this conf) high; every split is logged at WARN and reported via
    * [[lastSplitReport]]("embedding"). */
  val EMBEDDING_MAX_BUCKET_KEY = "spark.graft.dedup.embedding.maxBucketSize"

  /** Embedding-cosine near-duplicate pairs (a_id, b_id, cosine):
    * random-hyperplane LSH buckets the corpus (one pass), pairs form only
    * WITHIN a bucket, then exact cosine ([[Ann.pairDot]] over the unit
    * vectors) filters at `minCosine`. The classic recall/cost dial is
    * `numPlanes` (fewer planes = bigger buckets = higher recall).
    *
    * Null vector elements contribute 0 to both the norm and the dot
    * product, so a pair whose overlapping products are ALL null (e.g. two
    * vectors non-null at complementary positions) scores exactly 0.0 —
    * not NULL — and is emitted whenever `minCosine <= 0`. All-zero (or
    * all-null) vectors have no direction and never pair. */
  def embeddingNearDuplicates(
      df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double = 0.95, numPlanes: Int = 4, dims: Int = 64,
      maxBucketSize: Int = 0): DataFrame = {
    // Shared pipeline with the ANN family (Ann.unitRows): one exploded
    // pass computes norms AND hyperplane sign-sums as plain aggregates —
    // no array lambdas — with md5-derived literal plane constants
    // (engine-portable buckets, zero per-row hashing) and the zero-norm
    // guard: an all-zero embedding has no defined cosine, and without the
    // guard its x/n = 0/0 = NaN would poison every bucket-mate's pair sum
    // — and Spark orders NaN ABOVE every number, so `NaN >= minCosine`
    // would emit the whole bucket as spurious near-duplicates (and
    // downstream clustering would merge unrelated documents). Dropping
    // zero vectors matches Ann: they are never anyone's neighbor.
    // eager localCheckpoint: both sides of the bucket self-join read this
    val spark = df.sparkSession
    val cap = if (maxBucketSize > 0) maxBucketSize
      else spark.conf.getOption(EMBEDDING_MAX_BUCKET_KEY)
        .map(_.toInt).getOrElse(250)
    require(cap > 0, s"maxBucketSize must be positive, got $cap")
    // LAZY checkpoint of the DOC-LEVEL unit frame (doc_id, varr, bucket):
    // the size probe below is the FIRST action on it, so it materializes
    // the checkpoint blocks AND computes the cap decision in one scheduled
    // job (an eager stabilize + separate probe would pay two). One array
    // row per doc — the quadratic pair join below carries 64× fewer rows
    // than the exploded spelling, and [[Ann.unitVecs]] builds it with zero
    // exchanges.
    val uvb = Ann
      .unitVecs(df, idCol, vecCol, "doc_id", "varr", numPlanes, dims)
      .transform(Checkpoints.stabilize(_, eager = false))
    // MEGA-BUCKET CAP (same scale defense as [[semanticNearDupPairs]]):
    // a direction-correlated corpus collapses into few raw-LSH buckets —
    // shared dominant components vote the same sign on every plane, so
    // raising numPlanes does NOT split it and the bucket self-join goes
    // quadratic in the corpus. Buckets above the cap are subdivided by
    // extra planes over each member's RESIDUAL around the bucket's own
    // MEAN direction ([[residualSubBuckets]]) — that is where the
    // within-bucket variation lives, so sub-buckets come out near-even.
    // Sub-bucket pairs stay exact cosine (a subset of the uncapped
    // output); the probe collects ONE row (max + over-cap groups), and
    // the decision lands in [[lastSplitReport]]("embedding").
    val (maxSize, oversized, pairWork) = oversizedProbe(
      uvb.groupBy(col("bucket").as("cid")).agg(count(lit(1)).as("__cn")),
      cap)
    recordSplit("embedding", cap, oversized, maxSize)
    val keyed: DataFrame =
      if (maxSize <= cap)
        // checkpoint-backed already — no second stabilize needed
        uvb.withColumn("__pk", lit(0L))
      else {
        val big = planesLocalRelation(spark, oversized, cap,
          uvb.schema("bucket").dataType)
        // bucket MEAN as the residual center, unit-normalized; only the
        // oversized buckets' members pay any of this — their components
        // explode from the checkpointed doc-level frame ONCE (stabilized:
        // the mean aggregate, the center projection and the residual
        // sub-bucket pass all read these rows — re-instantiating the
        // join+explode per consumer measured +2.4 s at sf1). The narrow
        // doc frame kept its SCAN's split count (no exchange anywhere in
        // the prep), so the residual pipeline is fanned to the default
        // parallelism when that count is low — the capped branch only
        // runs when the corpus is big enough to split buckets
        val target = spark.sparkContext.defaultParallelism
        val ovBase0 = uvb.withColumnRenamed("bucket", "cid")
          .join(broadcast(big.select("cid")), "cid")
        val ovBase = Parallelism.plannedSplits(uvb) match {
          case Some(p) if p < target =>
            ovBase0.repartition(target, col("doc_id"))
          case _ => ovBase0
        }
        val ovUnit = Checkpoints.stabilize(
          ovBase.select(col("doc_id"), col("cid"),
            posexplode(col("varr")).as(Seq("dim", "x"))),
          eager = false)
        val mean = ovUnit.groupBy("cid", "dim").agg(avg(col("x")).as("mx"))
        val mnorm = mean.groupBy("cid")
          .agg(sqrt(sum(col("mx") * col("mx"))).as("mn"))
        // zero-norm mean (perfectly symmetric bucket): center 0 — the
        // residual degenerates to the raw vector, which the sub-bucket
        // pass hashes with a FRESH plane family (negative indices in
        // residualSubBuckets), so even this case splits: the original
        // planes' signs are constant within the bucket by construction,
        // the fresh planes' are not
        val centers = mean.join(mnorm, "cid")
          .select(col("cid"), col("dim"),
            when(col("mn") === 0.0d, lit(0.0d))
              .otherwise(col("mx") / col("mn")).as("cx"))
          .transform(Checkpoints.stabilize)
        val comp = ovUnit
          .select(col("doc_id").as("nid"), col("cid"), col("dim"),
            col("x").as("nx"))
        val csim = comp.join(broadcast(centers), Seq("cid", "dim"))
          .groupBy("nid", "cid").agg(sum(col("nx") * col("cx")).as("csim"))
        val ovDocs = csim.join(broadcast(big), "cid")
          .select("nid", "cid", "csim", "__np")
        val bits = residualSubBuckets(
          comp.select("nid", "dim", "nx"), centers, ovDocs, dims)
        uvb.join(bits.withColumnRenamed("nid", "doc_id"),
            Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("bucket"), col("varr"),
            coalesce(col("__pk"), lit(0L)).as("__pk"))
          .transform(Checkpoints.stabilize)
      }
    // both sides of the pair self-join read the doc-level frame; the
    // work-gated fan-out raises the quadratic stage's parallelism only when
    // the probe-estimated pair work says it matters (a small corpus keeps
    // the exchange-free fast path)
    val pf = pairFan(keyed, "doc_id", pairWork, dims)
    pf.as("a").join(pf.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.__pk") === col("b.__pk") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        Ann.pairDot(col("a.varr"), col("b.varr"), dims).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Spherical k-means cluster assignment over an embedding column:
    * (idCol, cluster_id, csim) — the grouping primitive behind
    * SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540)
    * and domain-mix curation. Deterministic end-to-end: centroids seed
    * from the k LOWEST ids' unit vectors and refine through `iters`
    * spherical Lloyd rounds (the same pure-relational machinery the IVF
    * index builds cells with — no array lambdas, every round one
    * assignment join + one mean/renormalize aggregate), and assignment
    * ties break on cluster id. Zero-norm vectors are excluded (their
    * cosine is undefined — same contract as the ANN family).
    * `spark.graft.ann.ivf.kmeansIters`, when set, overrides `iters`
    * (shared with the IVF builder). */
  def semanticClusters(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 1): DataFrame = {
    // centroid build and final assignment both read the unit rows
    // LAZY: the centroid broadcast build is the first consumer and
    // doubles as the materialization job
    val cu = Ann.unitRows(df, idCol, vecCol, "nid", "nx")
      .transform(Checkpoints.stabilize(_, eager = false))
    val cents = Ann.buildCentroids(df, idCol, cu, k, defaultIters = iters)
    Ann.assignCells(cents)(cu, "nid", "nx")
      .select(col("nid").as(idCol), col("cid").as("cluster_id"), col("csim"))
  }

  /** Conf key for [[semanticNearDupPairs]]'s oversized-cluster cap (used
    * when the `maxClusterSize` argument is 0). Default 250 — same
    * quadratic-to-linear trade, same BEHAVIOR CHANGE NOTE, same WARN +
    * [[lastSplitReport]]("semantic") surface as
    * [[EMBEDDING_MAX_BUCKET_KEY]] (a fixed k makes per-cluster population
    * grow with the corpus; sf1 measured 22x for 10x data uncapped vs 6x
    * at 250). */
  val SEMANTIC_MAX_CLUSTER_KEY = "spark.graft.dedup.semantic.maxClusterSize"

  /** SemDeDup-style semantic near-duplicate pairs: k-means cluster, then
    * EXACT pairwise cosine within each cluster only — O(Σ|cluster|²)
    * scoring instead of all-pairs O(n²), the standard trade for embedding
    * dedup at corpus scale. Cross-cluster near-duplicates are missed BY
    * DESIGN (that is the recall/cost dial: raise k for cheaper, narrower
    * clusters; the hyperplane-LSH [[embeddingNearDuplicates]] is the
    * overlapping-bucket alternative). The per-cluster self-join shuffles
    * on (cluster, sub-bucket, dim) — the same shape as the LSH bucket
    * join, with k controlling the skew the way numPlanes does there.
    *
    * MEGA-CLUSTER CAP: a skewed corpus can land most documents in ONE
    * cluster, degrading the within-cluster self-join to quadratic in the
    * corpus. Clusters larger than `maxClusterSize` (argument, else conf
    * [[SEMANTIC_MAX_CLUSTER_KEY]], default 250) are subdivided by the
    * same md5-derived random-hyperplane LSH the [[embeddingNearDuplicates]]
    * path buckets with — per-cluster plane count ⌈log2(size/cap)⌉ (≤ 16),
    * so expected sub-bucket size ≤ cap and pair work stays bounded. Pairs
    * inside a sub-bucket are still EXACT cosine; pairs across sub-buckets
    * of an oversized cluster are traded away (the standard recall dial —
    * every emitted pair remains exact and ≥ `minCosine`). Clusters at or
    * under the cap are untouched: the fast path adds one tiny k-row
    * aggregate and nothing else. The oversized-cluster decision is one
    * k-row collect — same bounded-driver contract as the other capped
    * paths. Null elements score like in [[embeddingNearDuplicates]]: a
    * pair whose products are all null has cosine 0.0. */
  def semanticNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int, minCosine: Double = 0.95, iters: Int = 1,
      maxClusterSize: Int = 0, dims: Int = 64): DataFrame = {
    val (cu, assignKeyed, pairWork) =
      semanticKeyedAssign(df, idCol, vecCol, k, iters, maxClusterSize, dims)
    // both sides of the pair join read the assigned DOC-LEVEL unit vectors:
    // the quadratic stage carries one array row per doc instead of one row
    // per (doc, dim) — 64× fewer rows through the join, and the cosine is
    // one per-pair projection ([[Ann.pairDot]]) instead of a 2.6M-group
    // hash-aggregate over the 64×-exploded join output. The arrays fold
    // from the ALREADY-CHECKPOINTED exploded rows (codegen'd collect_list
    // — components bit-identical to cu's; an inline narrow unitVecs here
    // would drag its CodegenFallback folds into the join stage)
    val uv = Ann.foldUnitVectors(cu, "nx", "varr", "nid")
    val au = uv.join(assignKeyed, "nid").transform(Checkpoints.stabilize)
    val pf = pairFan(au, "nid", pairWork, dims)
    pf.as("a").join(pf.as("b"),
        col("a.cid") === col("b.cid") && col("a.__pk") === col("b.__pk") &&
        col("a.nid") < col("b.nid"))
      .select(col("a.nid").as("a_id"), col("b.nid").as("b_id"),
        Ann.pairDot(col("a.varr"), col("b.varr"), dims).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** The keyed assignment behind [[semanticNearDupPairs]]: unit rows plus
    * (nid, cid, __pk) where pairs form only within (cid, __pk) — so the
    * (cid, __pk) group sizes BOUND the pair work. `private[graft]` so the
    * plan-quality gate asserts the bound on the exact production path. */
  private[graft] def semanticKeyedAssign(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, maxClusterSize: Int,
      dims: Int): (DataFrame, DataFrame, Long) = {
    val spark = df.sparkSession
    val cap = if (maxClusterSize > 0) maxClusterSize
      else spark.conf.getOption(SEMANTIC_MAX_CLUSTER_KEY)
        .map(_.toInt).getOrElse(250)
    require(cap > 0, s"maxClusterSize must be positive, got $cap")
    // LAZY: the centroid broadcast build is the first consumer and
    // doubles as the materialization job
    val cu = Ann.unitRows(df, idCol, vecCol, "nid", "nx")
      .transform(Checkpoints.stabilize(_, eager = false))
    val cents = Ann.buildCentroids(df, idCol, cu, k, defaultIters = iters)
    // LAZY checkpoint, consumed by the size probe AND the pair path: the
    // probe is the first action, so materializing the assignment and
    // deciding the cap share one scheduled job; csim kept — the
    // sub-bucketing path needs each doc's centroid projection
    val assign3 = Ann.assignCells(cents)(cu, "nid", "nx")
      .transform(Checkpoints.stabilize(_, eager = false))
    val assign = assign3.select("nid", "cid")
    // ONE single-row collect decides everything (bounded driver work
    // regardless of corpus size) — the fast path's whole overhead; the
    // decision lands in [[lastSplitReport]]("semantic")
    val (maxSize, oversized, pairWork) = oversizedProbe(
      assign.groupBy("cid").agg(count(lit(1)).as("__cn")), cap)
    recordSplit("semantic", cap, oversized, maxSize)
    val keyed: DataFrame =
      if (maxSize <= cap) assign.withColumn("__pk", lit(0L))
      else {
        // per-OVERSIZED-cluster plane count: 2^np sub-buckets bring the
        // expected bucket size to ≤ cap — an over-cap-groups local relation
        val big = planesLocalRelation(spark, oversized, cap,
          assign.schema("cid").dataType)
        // the mega-cluster path reuses the centroid frame a second time
        // (residual join); pin it so the Lloyd pipeline never re-runs
        val centsS = cents.transform(Checkpoints.stabilize)
        // only documents in OVERSIZED clusters pay the residual pass — and
        // those can be most of the corpus, so nothing here broadcasts
        // except the k-row cluster frame and the k×dims centroid frame
        val ovDocs = assign3.join(broadcast(big), "cid")
          .select("nid", "cid", "csim", "__np")
        val bits = residualSubBuckets(cu, centsS, ovDocs, dims)
        assign.join(bits, Seq("nid"), "left_outer")
          .select(col("nid"), col("cid"),
            coalesce(col("__pk"), lit(0L)).as("__pk"))
      }
    (cu, keyed, pairWork)
  }

  /** Plane count subdividing a group of `size` members to expected
    * sub-groups ≤ `cap`: ⌈log2(size/cap)⌉, clamped to 1..16. */
  private def planesFor(size: Long, cap: Int): Int =
    math.min(16.0, math.max(1.0,
      math.ceil(math.log(size.toDouble / cap) / math.log(2.0)))).toInt

  /** What a capped pair producer ([[embeddingNearDuplicates]],
    * [[semanticNearDupPairs]]) traded on its most recent plan: how many
    * groups exceeded the cap and were residual-LSH subdivided, how many
    * documents sat inside them, the largest group seen, and the deepest
    * plane count used. Pairs ACROSS sub-groups of a split group are
    * forgone by design — this is the signal an operator tunes cap /
    * numPlanes / k against; `groupsSplit == 0` means the output is
    * bit-identical to the uncapped spelling. */
  final case class SplitReport(
      op: String, cap: Int, groupsSplit: Long, docsInSplitGroups: Long,
      largestGroup: Long, maxPlanes: Int)

  private val lastSplit =
    new java.util.concurrent.ConcurrentHashMap[String, SplitReport]()

  /** Split telemetry of the most recent capped-pair-producer plan built in
    * this JVM — ops: `"embedding"`, `"semantic"`. None before the first
    * call. Recorded on EVERY call (a zero report proves the fast path). */
  def lastSplitReport(op: String): Option[SplitReport] =
    Option(lastSplit.get(op))

  /** Record + surface the split decision. The summary logs at WARN level
    * whenever anything split: the cap silently trades recall away, and a
    * 100 TB run that subdivided its biggest cluster must not look
    * identical to one that didn't. */
  private def recordSplit(
      op: String, cap: Int, oversized: Seq[(Any, Long)],
      maxSize: Long): SplitReport = {
    val rep = SplitReport(op, cap, oversized.size.toLong,
      oversized.map(_._2).sum, maxSize,
      if (oversized.isEmpty) 0 else oversized.map(o => planesFor(o._2, cap)).max)
    lastSplit.put(op, rep)
    if (rep.groupsSplit > 0)
      logWarning(s"[graft-dedup] WARN $op near-dup: " +
        s"${rep.groupsSplit} group(s) over cap $cap (largest " +
        s"${rep.largestGroup}; ${rep.docsInSplitGroups} docs affected) " +
        s"residual-LSH subdivided with <= ${rep.maxPlanes} planes — pairs " +
        "across sub-groups are forgone; raise maxBucketSize/maxClusterSize " +
        "(or the conf) for full recall")
    rep
  }

  /** (cid, __np) plane counts for the `oversized` (cid, count) groups as a
    * LOCAL relation (the probe collected only over-cap groups — driver
    * rows bounded by n/cap, not by the distinct-group count). */
  private def planesLocalRelation(
      spark: org.apache.spark.sql.SparkSession,
      oversized: Seq[(Any, Long)], cap: Int,
      cidType: org.apache.spark.sql.types.DataType): DataFrame = {
    val rows: Seq[org.apache.spark.sql.Row] = oversized.map { case (cid, n) =>
      org.apache.spark.sql.Row(cid, planesFor(n, cap))
    }
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cid", cidType),
        org.apache.spark.sql.types.StructField("__np",
          org.apache.spark.sql.types.IntegerType, nullable = false))))
  }

  /** ONE-JOB group-size probe shared by the capped pair producers: global
    * max group size + the over-cap (group, count) list in a single
    * collected row — driver memory bounded by n/cap (the over-cap list),
    * never by the distinct-group count (a large numPlanes would otherwise
    * make the probe itself a multi-million-row driver collect). As the
    * FIRST action on a lazily-checkpointed upstream frame it also
    * materializes that checkpoint, so the whole decision costs one
    * scheduled job. */
  private def oversizedProbe(
      sizes: DataFrame, cap: Int): (Long, Seq[(Any, Long)], Long) = {
    val row = sizes.agg(
      max(col("__cn")).as("__mx"),
      // when() without otherwise => null for at-or-under-cap groups,
      // and collect_list skips nulls
      collect_list(when(col("__cn") > cap,
        struct(col("cid"), col("__cn")))).as("__big"),
      // pair-work estimate Σ min(cn, cap)·cn: after residual splitting a
      // doc in an over-cap group pairs with ~cap partners, an under-cap
      // doc with its whole group — rides the same single-row collect and
      // gates [[pairFan]] below
      sum(least(col("__cn"), lit(cap.toLong)) * col("__cn")).as("__work"))
      .collect().head
    val maxSize = if (row.isNullAt(0)) 0L else row.getLong(0)
    val oversized = row.getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.get(0), r.getLong(1)))
    val pairWork = if (row.isNullAt(2)) 0L else row.getLong(2)
    (maxSize, oversized, pairWork)
  }

  /** The pair producers' work-gated fan-out threshold, in estimated
    * dot-product TERMS (pairWork × dims): 128M terms ≈ seconds of
    * single-core dot-product work. Below it the pair frame keeps its
    * exchange-free layout (a small corpus's whole pair stage is cheaper
    * than one extra shuffle + its tasks — measured neutral-to-worse
    * ungated in a past round); above it the frame is repartitioned to the
    * default parallelism so the quadratic stage never runs on a handful of
    * post-AQE-coalesce partitions. At production scale the frame plans
    * ≥ cores partitions and the underlying [[Parallelism.fanOut]] floor is
    * a structural no-op. A constant: no caller needs another value. */
  private val PAIR_FANOUT_TERMS = 128L << 20

  /** Work-gated parallelism floor for a stabilized pair frame: fan out by
    * the UNIQUE id only when the probe-estimated pair work (`pairWork`
    * partner rows × `dims` terms each) exceeds [[PAIR_FANOUT_TERMS]].
    *
    * By the unique id, NOT the join keys, deliberately: a group key's
    * whole quadratic workload lands in one partition (AQE's skew split
    * keys on BYTES, which stay tiny here), and pre-co-partitioning also
    * robs AQE of the runtime broadcast conversion — measured 2.02 s vs
    * 0.57 s for id-fanned on the same skewed 5M-pair fixture. The join's
    * own exchange (or broadcast) takes it from there. */
  private def pairFan(
      df: DataFrame, idCol: String, pairWork: Long,
      dims: Int): DataFrame =
    if (pairWork * math.max(1, dims) > PAIR_FANOUT_TERMS)
      Parallelism.fanOut(df, idCol)
    else df

  /** Hyperplane sign sub-buckets over each member's RESIDUAL
    * r = x − (x·c)c, the component orthogonal to its group's center.
    * Hashing the raw vector barely subdivides a tight group: every member
    * shares the center direction, so x·w ≈ (x·c)(c·w) gives the SAME sign
    * on most planes — the residual is exactly the within-group variation,
    * so its signs split near-evenly. One grouped pass, literal md5 plane
    * constants (Ann.unitRows machinery). Inputs: `comp` (nid, dim, nx)
    * exploded unit components; `centers` (cid, dim, cx) unit centers
    * (broadcastable); `ovDocs` (nid, cid, csim, __np) the members to
    * subdivide with their center projection and plane count. Output:
    * (nid, __pk) with __pk = low __np bits of the 16-bit sign word. */
  private def residualSubBuckets(
      comp: DataFrame, centers: DataFrame, ovDocs: DataFrame,
      dims: Int): DataFrame = {
    val maxP = 16
    val resid = comp.join(ovDocs, "nid")
      .join(broadcast(centers), Seq("cid", "dim"))
      .withColumn("__rx", col("nx") - col("csim") * col("cx"))
    // NEGATIVE plane indices: a fresh md5 family (md5("-1:dim") vs
    // md5("0:dim")...), disjoint from the bucket-forming planes at ANY
    // numPlanes — a fixed positive offset would collide once numPlanes
    // exceeded it. Without disjoint planes, a zero-norm center
    // (symmetric group) degenerates the residual to the raw vector,
    // whose signs on the ORIGINAL planes are constant within the bucket
    // (they define it) — the "split" would produce one sub-bucket and
    // the quadratic join would survive for exactly the group the cap
    // exists to bound. Fresh planes split it fine.
    val planeAggs = (0 until maxP).map { p =>
      sum(col("__rx") * Ann.planeComponent(-(p + 1), col("dim") + 1, dims))
        .as(s"__d$p")
    }
    resid
      .groupBy("nid", "__np")
      .agg(planeAggs.head, planeAggs.tail: _*)
      .select(col("nid"), pmod(
        (0 until maxP).map(p =>
          when(col(s"__d$p") >= 0, lit(1L << p)).otherwise(lit(0L))
            : Column).reduce(_ + _),
        // 2^np as a column (shiftleft's bit-count arg must be a
        // literal); exact in double up to 2^52 ≫ 2^16
        pow(lit(2.0d), col("__np").cast("double")).cast("long"))
        .as("__pk"))
  }

  /** MinHash-LSH near-dup pairs, verified with exact shingle Jaccard on the
    * candidate set only. `minJaccardPct` is an integer percentage so the
    * operator's output is engine-exact (no float thresholds). */
  def minhashNearDuplicates(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, minJaccardPct: Int = 50): DataFrame = {
    // Materialize the candidate pairs eagerly (tiny — that is the point of
    // LSH) so the signature pipeline over the full corpus runs exactly once;
    // the exact-Jaccard verify then re-tokenizes only the candidate
    // documents. localCheckpoint (NOT persist): it truncates the huge
    // signature and band-join lineage — keeping every downstream plan small —
    // and leaves no CacheManager entry to slow later queries' planning.
    // LAZY: the verify step's candidate-id broadcast build is the first
    // consumer and doubles as the materialization job
    val cands = minhashCandidatePairs(df, idCol, textCol, numHashes, bands)
      .transform(Checkpoints.stabilize(_, eager = false))
    verifyPairsExact(df, idCol, textCol, cands, minJaccardPct)
  }

  /** Exact shingle-Jaccard verification of an (a_id, b_id) candidate list
    * against the corpus texts: re-tokenizes ONLY candidate documents,
    * keeps pairs that share a shingle and reach `minJaccardPct` (integer
    * percentage — engine-exact). Output: (a_id, b_id, inter, uni), one row
    * per candidate row.
    *
    * Doc-level: each candidate document becomes ONE row holding its
    * distinct shingles, and a pair's `inter` is the size of the two
    * arrays' intersection — the pairs join on document ids only, never on
    * shingles. */
  def verifyPairsExact(
      df: DataFrame, idCol: String, textCol: String, cands: DataFrame,
      minJaccardPct: Int, shingleK: Int = 3): DataFrame = {
    val candIds = cands.select(explode(array(col("a_id"), col("b_id"))).as("cand_id"))
      .distinct()
    // stabilized: both pair sides read it
    val sh = df.join(broadcast(candIds),
        col(s"`$idCol`") === col("cand_id"), "left_semi")
      .select(col(s"`$idCol`").as("doc_id"), shingles(col(textCol), shingleK).as("sh"))
      .transform(Checkpoints.stabilize)
    val inter = size(array_intersect(col("sa"), col("sb"))).cast("long")
    cands.select(col("a_id"), col("b_id"))
      .join(sh.select(col("doc_id").as("a_id"), col("sh").as("sa")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("sh").as("sb")), "b_id")
      .select(col("a_id"), col("b_id"), inter.as("inter"),
        (size(col("sa")).cast("long") + size(col("sb")) - inter).as("uni"))
      .filter(col("inter") > 0 && col("inter") * 100 >= col("uni") * minJaccardPct)
  }
}

/** Persistent MinHash-LSH index for INCREMENTAL deduplication: the banded
  * signature rows live in a graft primary-key table, so each ingest batch
  * computes signatures for its OWN documents only and joins them against
  * the stored index — the corpus is never re-tokenized or re-minhashed. At
  * 100 TB the index table is a tiny fraction of the corpus (bands × 16
  * bytes per document) while re-running full dedup per ingest would re-read
  * everything.
  *
  * Index schema: `(doc_id, band, key)`, primary key `(doc_id, band)` — one
  * row per (document, band), so re-ingesting a document (text updates)
  * OVERWRITES its old signature rows via merge-on-read last-wins instead of
  * leaving stale buckets behind.
  *
  * Exactness: a document's banded keys depend only on its own text, so
  * "pairs found when the later document arrives" over any batch split
  * equals the one-shot [[Dedup.minhashNearDuplicates]] output — candidates
  * band-match identically, and the exact-Jaccard verify is shared code.
  *
  * Ingest protocol (per batch): `incrementalPairs` FIRST (new batch vs
  * stored index + within-batch), then `upsert` the batch into the index.
  */
object MinhashIndex {

  /** Signature parameters are pinned in the index table's configuration at
    * creation and validated on every later call: band keys hash different
    * signature slices under different (numHashes, bands, shingleK), so a
    * mismatched batch would silently match NOTHING stored — every
    * cross-batch near-duplicate lost as a false negative. Loud failure
    * instead. */
  private def checkOrDescribeParams(
      indexPath: String, numHashes: Int, bands: Int, shingleK: Int): Unit = {
    val norm = graft.meta.SnapshotManagement.normalize(indexPath)
    graft.meta.SnapshotManagement.snapshotOpt(norm).foreach { snap =>
      val conf = snap.tableInfo.configuration
      def stored(key: String): Option[Int] = conf.collectFirst {
        case (k, v) if k.equalsIgnoreCase(key) => v.toInt
      }
      val declared = Seq(
        ("graft.minhash.numHashes", numHashes),
        ("graft.minhash.bands", bands),
        ("graft.minhash.shingleK", shingleK))
      declared.foreach { case (key, got) =>
        stored(key).foreach { want =>
          require(want == got,
            s"minhash index at $indexPath was built with $key=$want; " +
            s"this call passed $got — signatures would never band-match. " +
            "Use the index's parameters or build a new index")
        }
      }
      // PIN ("describe") any missing parameter: an index predating the
      // pinning (or created by hand) would otherwise accept a mismatched
      // later call silently — the exact hole this guard exists to close.
      // First caller's parameters become the contract.
      if (declared.exists { case (key, _) => stored(key).isEmpty }) {
        graft.meta.SnapshotManagement.withRewriteTransaction(norm) { txn =>
          val s = txn.snapshotOpt.get
          val fresh = s.tableInfo.configuration
          // recompute against the txn's own snapshot: a concurrent pinner
          // may have won the race — validate what it pinned, add the rest
          val stillMissing = declared.filter { case (key, got) =>
            fresh.collectFirst {
              case (k, v) if k.equalsIgnoreCase(key) => v.toInt
            } match {
              case Some(want) =>
                require(want == got,
                  s"minhash index at $indexPath pinned $key=$want " +
                  s"concurrently; this call passed $got")
                false
              case None => true
            }
          }
          if (stillMissing.nonEmpty) {
            txn.commit("alter", Some(s.tableInfo.copy(
              configuration = fresh ++
                stillMissing.map { case (k, v) => k -> v.toString })),
              Nil, Nil)
          }
        }
      }
    }
  }

  /** Write `docs`' banded signature rows into the index table at
    * `indexPath` (created on first use; hash-bucketed on the
    * `(doc_id, band)` primary key, signature parameters pinned as table
    * properties). */
  def upsert(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleK: Int = 3,
      bucketNum: Int = 4): Unit = {
    checkOrDescribeParams(indexPath, numHashes, bands, shingleK)
    val rows = Dedup.bandedSignatureRows(docs, idCol, textCol, numHashes,
      bands, shingleK)
    if (graft.meta.SnapshotManagement.snapshotOpt(
        graft.meta.SnapshotManagement.normalize(indexPath)).isEmpty) {
      rows.write.format("graft")
        .option("hashPartitions", "doc_id,band")
        .option("hashBucketNum", bucketNum.toString)
        .option("graft.minhash.numHashes", numHashes.toString)
        .option("graft.minhash.bands", bands.toString)
        .option("graft.minhash.shingleK", shingleK.toString)
        .save(indexPath)
    } else {
      graft.tables.GraftTable.forPath(spark, indexPath).upsert(rows)
    }
  }

  /** Keep the index in lockstep with a graft DOCUMENTS table using its
    * change feed: only documents touched since the last sync re-signature
    * (inserted/updated docs upsert their banded rows, deleted docs
    * tombstone ALL their (doc_id, band) rows — band ids are dense 0..N-1,
    * so the death warrant needs no index read), in ONE delta commit. The
    * synced version persists in a sidecar (`_graft_minhash_sync.json`,
    * vacuum-safe like the MV meta); a crash between commit and sidecar
    * write re-processes the window idempotently — every sync step is a
    * keyed overwrite. First call builds the index from the full table.
    *
    * At 100 TB this is the missing lifecycle piece: corpora are graft
    * tables that evolve by upsert/delete, and the index follows at
    * O(changed docs) per sync instead of O(corpus). Returns the docs-table
    * version the index now reflects. */
  def syncFromTable(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      docsPath: String, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleK: Int = 3,
      bucketNum: Int = 4): Long = {
    import graft.meta.SnapshotManagement
    val normDocs = SnapshotManagement.normalize(docsPath)
    val normIdx = SnapshotManagement.normalize(indexPath)
    val current = SnapshotManagement.snapshot(normDocs).version
    val last = SyncSidecar.readValidated(normIdx, SYNC_FILE, normDocs, current)
    val docsNow = spark.read.format("graft").load(docsPath)
    if (last < 0) {
      upsert(spark, indexPath, docsNow, idCol, textCol, numHashes, bands,
        shingleK, bucketNum)
    } else if (current > last) {
      checkOrDescribeParams(indexPath, numHashes, bands, shingleK)
      val touched = graft.tables.ChangeFeed
        .changes(spark, normDocs, last + 1, current)
        .select(col(s"`$idCol`")).distinct()
        .transform(Checkpoints.stabilize)
      if (!touched.isEmpty) {
        val live = docsNow.join(broadcast(touched), Seq(idCol), "left_semi")
        val liveSig = Dedup.bandedSignatureRows(live, idCol, textCol,
            numHashes, bands, shingleK)
          .transform(Checkpoints.stabilize)
        // death warrants for every touched id with NO fresh signature rows
        // — that's deleted docs AND live docs whose new text fell below
        // shingleK tokens (zero shingles → zero rows): anti-joining against
        // the docs table instead would leave a shriveled doc's old bands
        // matching future batches forever
        val dead = touched
          .join(liveSig.select(col("doc_id").as(idCol)).distinct(),
            Seq(idCol), "left_anti")
        val tomb = dead.select(col(s"`$idCol`").as("doc_id"),
            explode(sequence(lit(0), lit(bands - 1))).as("band"),
            lit(true).as(graft.meta.Tombstones.COL))
        val delta = liveSig.unionByName(tomb, allowMissingColumns = true)
        SnapshotManagement.withRewriteTransaction(normIdx) { txn =>
          graft.commands.UpsertCommand.runDeltaIn(
            spark, normIdx, delta, Map.empty, txn)
        }
        // threshold-gated compaction (same trigger a plain upsert gets):
        // sync deltas + death warrants otherwise stack up between full
        // builds and every candidate probe pays the merge fan-in
        graft.commands.CompactionCommand.run(spark, normIdx, force = false)
      }
    }
    if (current != last) SyncSidecar.write(normIdx, SYNC_FILE, normDocs, current)
    current
  }

  private val SYNC_FILE = "_graft_minhash_sync.json"

  /** Continuous maintenance: tail the docs table's change feed and run
    * [[syncFromTable]] once per microbatch — see [[graft.streaming.ContinuousSync]] for
    * the liveness-only contract (CDF rows are discarded; each sync
    * re-reads its exact sidecar window under its own pins). Stop the
    * returned query to stop maintenance. */
  def maintainStream(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      docsPath: String, idCol: String, textCol: String,
      checkpointDir: String,
      numHashes: Int = 64, bands: Int = 16, shingleK: Int = 3,
      bucketNum: Int = 4,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("10 seconds"))
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.ContinuousSync.tail(spark, docsPath, indexPath, checkpointDir, trigger,
      "minhash") {
      syncFromTable(spark, indexPath, docsPath, idCol, textCol, numHashes,
        bands, shingleK, bucketNum); ()
    }

  /** Near-duplicate pairs involving at least one document of `newDocs`:
    * within-batch pairs plus new-vs-indexed pairs, exact-verified at
    * `minJaccardPct` against `corpus` (which must contain the texts of
    * both sides — the already-indexed documents and the new batch).
    * `a_id < b_id` in the output, matching the batch operator.
    *
    * Scale: the new batch's banded rows broadcast against ONE scan of the
    * index table — the corpus-sized side never shuffles; the verify
    * re-tokenizes candidate documents only. */
  def incrementalPairs(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      corpus: DataFrame, newDocs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, minJaccardPct: Int = 50,
      shingleK: Int = 3): DataFrame = {
    checkOrDescribeParams(indexPath, numHashes, bands, shingleK)
    val fresh = Dedup
      .bandedSignatureRows(newDocs, idCol, textCol, numHashes, bands, shingleK)
      .transform(Checkpoints.stabilize)
    val stored = spark.read.format("graft").load(indexPath)
      .select(col("doc_id"), col("band"), col("key"))
    // new-vs-indexed: skip pairs whose both sides are new (the within-batch
    // self-join below owns those; doc ids may collide across the two frames
    // only if the caller re-ingests a document, which the PK upsert handles).
    // Explicit broadcast of the (small) new batch: the stored index is the
    // corpus-scale side and must stream through the join unshuffled — the
    // checkpointed frame's stats are not reliable enough to leave the
    // build-side choice to the planner.
    val vsIndexed = broadcast(fresh).as("n").join(stored.as("o"),
        col("n.band") === col("o.band") && col("n.key") === col("o.key") &&
        col("n.doc_id") =!= col("o.doc_id"))
      .select(least(col("n.doc_id"), col("o.doc_id")).as("a_id"),
        greatest(col("n.doc_id"), col("o.doc_id")).as("b_id"))
    val withinBatch = fresh.as("a").join(fresh.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
    val cands = vsIndexed.unionByName(withinBatch).distinct()
      .transform(Checkpoints.stabilize)
    Dedup.verifyPairsExact(corpus, idCol, textCol, cands, minJaccardPct,
      shingleK)
  }
}
