package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  *  - `bruteTopK`: exact baseline — every (query, corpus) cosine, per-query
  *    top-k via window rank. One pass over the corpus, no corpus self-join.
  *  - `lshTopK`: random-hyperplane LSH buckets the corpus once; queries
  *    probe only their own bucket, bounding each query's candidate set to
  *    corpus/2^planes on average.
  *  - `ivfTopK`: IVF — a coarse-centroid set partitions the corpus into
  *    cells; queries probe only the cells whose angular bound can still
  *    beat their provisional kth-best, which keeps the result EXACT.
  *
  * Vector prep is NARROW ([[unitVecs]]: norms, LSH sign-sums and the
  * rescale are per-row array folds — zero exchanges); candidate scoring
  * is RELATIONAL (exploded (id, dim, x/|v|) rows, each cosine a codegen'd
  * `sum(ax * bx)` hash-aggregate over an equi-join on `dim`) where the
  * candidate set is linear (query × corpus), and a per-pair array dot
  * ([[pairDot]], measured spelling) where it is quadratic
  * (`Dedup.embeddingNearDuplicates` / `semanticNearDupPairs` self-joins,
  * which would otherwise carry 64× the rows through the join).
  */
object Ann {

  /** Deterministic pseudo-random hyperplane component for (plane, 1-based
    * dim): md5("plane:dim") first-8-hex mod 1000, scaled to [-0.5, 0.5).
    * md5 (not murmur/xxhash) so ANY engine — the DuckDB oracle included —
    * reproduces the planes bit-for-bit. Computed ONCE on the driver and
    * inlined as a literal array: zero per-row hashing on the scan path
    * (the previous murmur form hashed per (vector, dim, plane) row). */
  private[llm] def planeConst(plane: Int, dim1: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$plane:$dim1".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)
    (java.lang.Long.parseLong(hex, 16) % 1000L).toDouble / 1000.0d - 0.5d
  }

  /** The plane's constants as a literal array column; `try_element_at`
    * null-pads vectors longer than `dims` (a zero component — those
    * dimensions simply don't vote). */
  private[llm] def planeComponent(plane: Int, dim1: Column, dims: Int): Column =
    coalesce(try_element_at(
      typedlit((1 to dims).map(planeConst(plane, _))), dim1), lit(0.0d))

  /** Narrow per-vector unit form (idAs, vAs [, bucket]): the norm, the
    * hyperplane sign-sums and the component rescale are all PER-ROW folds
    * over the array — zero exchanges and zero joins. The folds accumulate
    * in the same ascending-dimension order the per-doc hash aggregate of
    * [[unitRows]] does (all of one doc's exploded rows sit in one
    * partition), so norms, components and bucket signs are bit-identical
    * to the grouped spelling.
    *
    * ONLY for frames that are MATERIALIZED (checkpointed) before further
    * processing — the pair producers' doc-level frames. The higher-order
    * folds are CodegenFallback expressions: INLINE under a join/aggregate
    * they knock the whole downstream stage out of WholeStageCodegen
    * (measured: q_ann_brute's scored stage 0.17 → 1.28 core-s when the
    * prep ran inline), while behind a checkpoint the interpreted cost is
    * one linear pass at materialization and every consumer reads plain
    * blocks. The scoring paths keep the grouped [[unitRows]].
    *
    * Zero-norm guard: cosine is UNDEFINED for an all-zero vector, so such
    * vectors are excluded outright (ANSI mode would otherwise throw
    * DIVIDE_BY_ZERO on the normalization). Dropping zero vectors — rather
    * than letting null sims rank last — keeps every algorithm consistent:
    * a zero-norm query returns no rows and a zero-norm corpus vector is
    * never a neighbor, identically under brute, LSH, IVF-flat and
    * IVF-pruned. */
  private[graft] def unitVecs(
      df: DataFrame, idCol: String, vecCol: String,
      idAs: String, vAs: String, numPlanes: Int = 0,
      dims: Int = 64): DataFrame = {
    val v = col(s"`${vecCol.replace("`", "``")}`").cast("array<double>")
    // null elements contribute 0, exactly as the grouped sum() skipped them
    val norm2 = aggregate(v, lit(0.0d),
      (acc, x) => acc + coalesce(x * x, lit(0.0d)))
    val base = Seq(col(s"`${idCol.replace("`", "``")}`").as(idAs),
      v.as("__v"), sqrt(norm2).as("__n"))
    val planeSums = (0 until numPlanes).map { p =>
      aggregate(
        zip_with(v, sequence(lit(1), size(v)),
          (x, d) => x * planeComponent(p, d, dims)),
        lit(0.0d), (acc, t) => acc + coalesce(t, lit(0.0d))).as(s"__d$p")
    }
    val planed = df.select(base ++ planeSums: _*)
    val bucketCols =
      if (numPlanes > 0)
        Seq((0 until numPlanes).map(p =>
          when(col(s"__d$p") >= 0, lit(1 << p)).otherwise(lit(0)): Column)
          .reduce(_ + _).as("bucket"))
      else Nil
    planed.filter(col("__n") =!= 0.0d)
      .select(Seq(col(idAs),
        transform(col("__v"), x => x / col("__n")).as(vAs)) ++ bucketCols: _*)
  }

  /** Exploded (id, dim, x) rows of a vector column, in double. */
  private def explodedRows(
      df: DataFrame, idCol: String, vecCol: String, idAs: String): DataFrame =
    df.select(col(s"`${idCol.replace("`", "``")}`").as(idAs),
      posexplode(col(s"`${vecCol.replace("`", "``")}`")
        .cast("array<double>")).as(Seq("dim", "x")))

  /** Unit-normalized exploded rows (idAs, dim, xAs [, bucket]) — one
    * grouped pass computes the norm (and, when `numPlanes > 0`, the
    * hyperplane sign-sums) as plain aggregates, then a self-join scales
    * each component. No array lambdas anywhere: this is the form the
    * centroid/assignment/scoring joins consume INLINE, and an interpreted
    * fold here would knock those stages out of WholeStageCodegen (see
    * [[unitVecs]] for the measured cost and for the narrow form the
    * CHECKPOINTED pair frames use instead). */
  private[llm] def unitRows(
      df: DataFrame, idCol: String, vecCol: String,
      idAs: String, xAs: String, numPlanes: Int = 0,
      dims: Int = 64): DataFrame = {
    val expl = explodedRows(df, idCol, vecCol, idAs)
    val planeAggs = (0 until numPlanes).map { p =>
      sum(col("x") * planeComponent(p, col("dim") + 1, dims)).as(s"d$p")
    }
    val per = expl.groupBy(idAs)
      .agg(sum(col("x") * col("x")).as("norm2"), planeAggs: _*)
    val keyedCols = col(idAs) +: sqrt(col("norm2")).as("n") +:
      (if (numPlanes > 0)
        Seq((0 until numPlanes).map(p =>
          when(col(s"d$p") >= 0, lit(1 << p)).otherwise(lit(0)): Column)
          .reduce(_ + _).as("bucket"))
      else Nil)
    val keyed = per.select(keyedCols: _*)
    val outCols = Seq(col(idAs), col("dim"), (col("x") / col("n")).as(xAs)) ++
      (if (numPlanes > 0) Seq(col("bucket")) else Nil)
    expl.join(keyed.filter(col("n") =!= 0.0d), idAs).select(outCols: _*)
  }

  /** Fold unit-normalized EXPLODED rows (id, dim, x) back into one
    * `array<double>` per id, ordered by dim — for a pair producer whose
    * exploded rows are ALREADY checkpointed (the semantic path, which
    * needs them for centroid assignment anyway): one codegen'd
    * collect_list aggregate over the checkpoint, no lambda anywhere
    * (struct sort is lexicographic on (dim, x) and dim is unique per id;
    * `.getField` extracts the components). Values are bit-identical to
    * the exploded ones — no re-normalization. */
  private[llm] def foldUnitVectors(
      rows: DataFrame, id: String, x: String, vAs: String): DataFrame =
    rows.groupBy(id)
      .agg(array_sort(collect_list(struct(col("dim"), col(x)))).as("__s"))
      .select(col(id), col("__s").getField(x).as(vAs))

  /** Pairwise dot product of two unit-vector array columns — the per-PAIR
    * expression of the near-dup pair joins, replacing the per-dimension
    * exploded join + hash-aggregate (64× the rows through the quadratic
    * stage). Spelled as `dims` unrolled `try_element_at` terms plus an
    * exact higher-order-function tail that only evaluates for vectors
    * LONGER than `dims` (If branches are lazy in both codegen and
    * interpreted mode).
    *
    * Spelling chosen by measurement, not aesthetics (each variant timed on
    * a 20k-doc skewed-group fixture with ~5M candidate pairs):
    *   - pure unrolled terms whole-stage-codegen into ONE giant method the
    *     JIT refuses to compile — 20.5 s;
    *   - unrolled + HOF tail as the join condition (what predicate
    *     pushdown makes of a post-join filter) — 1.14 s;
    *   - this form, where the trailing `rand(42) * 0.0` term — exactly
    *     +0.0, so the VALUE is untouched — makes the expression
    *     NONDETERMINISTIC so the `>= minCosine` filter CANNOT be pushed
    *     into the join: the join stays pure-codegen on its equi-keys, and
    *     the dot evaluates once per pair in a standalone Filter/Project
    *     whose expression codegen splits into JIT-sized methods — 0.44 s.
    *     (Guide §4.4's asNondeterministic anti-duplication trick, applied
    *     to a built-in expression.)
    *
    * Null elements (and dims present on only one side) contribute 0, so a
    * pair whose overlapping products are ALL null scores 0.0, never NULL
    * (pinned in the near-dup operators' contract and tests). */
  private[graft] def pairDot(a: Column, b: Column, dims: Int): Column = {
    val head = (1 to dims).map(i =>
      coalesce(try_element_at(a, lit(i)) * try_element_at(b, lit(i)),
        lit(0.0d))).reduce(_ + _)
    val tail = when(size(a) > dims || size(b) > dims,
      aggregate(
        zip_with(slice(a, lit(dims + 1), size(a)), slice(b, lit(dims + 1), size(b)),
          (x, y) => x * y),
        lit(0.0d), (acc, v) => acc + coalesce(v, lit(0.0d))))
      .otherwise(lit(0.0d))
    // rand() * 0.0 == +0.0 for every draw (rand ∈ [0,1), finite): adding it
    // never changes the double value, only the expression's determinism —
    // retried tasks recompute identical cosines
    head + tail + rand(42) * lit(0.0d)
  }

  /** Nearest centroid by cosine for every vector of `unit` (both sides
    * unit-normalized: sum of products IS the cosine); deterministic
    * tie-break on centroid id. Output: (id, cid, csim). */
  private[llm] def assignCells(cents: DataFrame)(
      unit: DataFrame, id: String, x: String): DataFrame = {
    val w = Window.partitionBy(id).orderBy(col("csim").desc, col("cid").asc)
    unit.join(broadcast(cents), "dim")
      .groupBy(col(id), col("cid"))
      .agg(sum(col(x) * col("cx")).as("csim"))
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") === 1)
      .select(col(id), col("cid"), col("csim"))
  }

  /** Coarse centroid set as unit vectors (cid, dim, cx): deterministic
    * first-N-by-id seeding, refined by `spark.graft.ann.ivf.kmeansIters`
    * spherical-k-means iterations (pure relational algebra over the
    * exploded unit rows — see [[ivfTopK]]'s scaladoc). */
  private[llm] def buildCentroids(
      corpus: DataFrame, idCol: String, cu: DataFrame,
      nCentroids: Int, defaultIters: Int = 1): DataFrame = {
    val centIds = corpus.select(col(idCol).as("cid")).orderBy("cid")
      .limit(nCentroids)
    val seed = cu.join(broadcast(centIds), col("nid") === col("cid"))
      .select(col("cid"), col("dim"), col("nx").as("cx"))
    val iters = corpus.sparkSession.conf
      .getOption("spark.graft.ann.ivf.kmeansIters").map(_.toInt)
      .getOrElse(defaultIters)
    (0 until iters).foldLeft(seed) { (cents, _) =>
      val members = cu.join(
        assignCells(cents)(cu, "nid", "nx").select("nid", "cid"), "nid")
      val means = members.groupBy(col("cid"), col("dim"))
        .agg(avg(col("nx")).as("mx"))
      val norms = means.groupBy("cid")
        .agg(sqrt(sum(col("mx") * col("mx"))).as("cn"))
      means.join(norms, "cid")
        .select(col("cid"), col("dim"),
          (col("mx") / when(col("cn") =!= 0.0d, col("cn"))).as("cx"))
    }
  }

  /** Per-query top-k of `scored(qid, nid, sim)`; ties break by id.
    *
    * With `queries` — one `qid` row per query row — a qid given twice fails
    * the query with an error naming it. Each query row adds a marker row
    * that sorts FIRST in its qid's partition of this same window, so a
    * second marker lands at rank 2: always inside the k + 1 rows per qid
    * Spark keeps map-side before the shuffle, so the check costs neither a
    * job nor that group limit. */
  private[llm] def topK(
      scored: DataFrame, k: Int, queries: Option[DataFrame] = None): DataFrame = {
    val byScore = Seq(col("sim").desc, col("nid").asc)
    queries match {
      case None =>
        val w = Window.partitionBy("qid").orderBy(byScore: _*)
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .select(col("qid"), col("rank"), col("nid"))
      case Some(q) =>
        val w = Window.partitionBy("qid")
          .orderBy(col("__mark").desc +: byScore: _*)
        scored.withColumn("__mark", lit(false))
          .unionByName(q.select(col("qid"), lit(true).as("__mark")),
            allowMissingColumns = true)
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k + 1 &&
            when(col("__mark") && col("rank") > 1, raise_error(concat(
                lit("duplicate query id "), col("qid").cast("string"),
                lit(": query ids must be unique per call"))))
              .otherwise(!col("__mark")))
          .select(col("qid"), (col("rank") - 1).as("rank"), col("nid"))
    }
  }

  /** Exact cosine top-k for each query vector. Output:
    * (query_id, rank, neighbor_id) — integers only; ties broken by id. */
  def bruteTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int = 10): DataFrame = {
    val cu = unitRows(corpus, idCol, vecCol, "nid", "nx")
    val qu = unitRows(queries, queryIdCol, queryVecCol, "qid", "qx")
    val scored = cu.join(broadcast(qu), "dim")
      .groupBy("qid", "nid").agg(sum(col("nx") * col("qx")).as("sim"))
    topK(scored, k)
  }

  /** Bucketed ANN: per-query top-k among corpus vectors in the same
    * random-hyperplane bucket. Same output shape as `bruteTopK`. */
  def lshTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int = 10, numPlanes: Int = 4, dims: Int = 64): DataFrame = {
    val cu = unitRows(corpus, idCol, vecCol, "nid", "nx", numPlanes, dims)
    val qu = unitRows(queries, queryIdCol, queryVecCol, "qid", "qx", numPlanes,
      dims)
    val scored = cu.join(broadcast(qu), Seq("bucket", "dim"))
      .groupBy("qid", "nid").agg(sum(col("nx") * col("qx")).as("sim"))
    topK(scored, k)
  }

  /** IVF-style ANN: a deterministic sample of the corpus seeds the coarse
    * centroids, optionally refined by Lloyd (k-means) iterations — set
    * `spark.graft.ann.ivf.kmeansIters` (0 = plain first-N seeding; unset =
    * one iteration; small corpora take the flat path below and never run
    * Lloyd at all). Every vector is assigned to its nearest centroid
    * by cosine. Same output shape as `bruteTopK`.
    *
    * EXACT, not approximate: each query first scores its nearest cell
    * exhaustively, giving a provisional kth-best cosine `t`; it then probes
    * only the cells whose angular upper bound `cos(max(0, angle(q,
    * centroid) - cellRadius))` can still beat `t` (triangle inequality on
    * the angular metric — a member of cell c is at most `radius(c)` away
    * from its centroid, so its cosine to q is at most that bound). Skipped
    * cells provably contain no top-k member, so the result equals
    * `bruteTopK` while reading only the cells that matter. On a clustered
    * corpus (real embedding workloads) radii are small and most cells
    * prune; on unstructured data the bound degrades gracefully toward an
    * exhaustive scan — exactness is never traded away.
    *
    * ADAPTIVE: below `spark.graft.ann.ivf.smallCorpusBytes` (default
    * 256 MB, judged from plan-time statistics) building and probing a
    * cell index costs more in job orchestration than pruning can save,
    * so queries score the whole corpus in one flat pass instead —
    * FAISS's flat-search fallback for small indexes. Same exact result,
    * minimal job count.
    *
    * The Lloyd step is PURE relational algebra over the already-exploded
    * unit rows: assign (broadcast join + hash-agg + window) → per-(cell,
    * dim) mean → re-normalize to unit length. Each iteration is one extra
    * pass over the exploded corpus — no per-vector lambdas, no driver-side
    * math, so it scales exactly like the assignment it improves.
    */
  def ivfTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int = 10, nCentroids: Int = 16): DataFrame = {
    // Plan-time corpus size (no job) steers the adaptive choices below —
    // Lloyd refinement and the probe strategy. Below the threshold the
    // bound-pruning machinery costs more in orchestration (each eager
    // materialization and broadcast is a whole scheduled job — a measured
    // ~30 jobs at ~50 ms apiece on a toy corpus) than pruning can possibly
    // save, so small corpora probe every cell in one pass instead (the
    // same flat-search fallback FAISS applies to small indexes). Identical
    // exact results either way; only the job count changes.
    val smallBytes = corpus.sparkSession.conf
      .getOption("spark.graft.ann.ivf.smallCorpusBytes").map(_.toLong)
      .getOrElse(256L << 20)
    val smallCorpus = org.apache.spark.sql.classic.ClassicConversions
      .castToImpl(corpus).queryExecution.optimizedPlan.stats.sizeInBytes <
      BigInt(smallBytes)
    val qu = unitRows(queries, queryIdCol, queryVecCol, "qid", "qx")
    if (smallCorpus) {
      // flat probe (nprobe = nlist): one exhaustive scoring pass, no cell
      // index at all — building centroids/assignments whose output the
      // flat scoring never reads would spend exactly the jobs this path
      // exists to avoid. Identical exact result as the pruning path
      // (suite-asserted row-for-row). The unit rows are NOT stabilized
      // here: this path has exactly one consumer, so an eager
      // materialization job would be pure overhead.
      val flat = unitRows(corpus, idCol, vecCol, "nid", "nx")
      val scored = flat.join(broadcast(qu), "dim")
        .groupBy("qid", "nid").agg(sum(col("nx") * col("qx")).as("sim"))
      return topK(scored, k)
    }
    // corpus unit rows feed three consumers (centroid set, assignment,
    // scoring) — an eager localCheckpoint runs the explode+norm pipeline
    // once, truncates lineage (small downstream plans), and leaves no
    // CacheManager entry to tax later queries' planning
    val cu = unitRows(corpus, idCol, vecCol, "nid", "nx").transform(Checkpoints.stabilize)
    // Lloyd refinement inside buildCentroids: mean of each cell's members
    // per dimension, re-normalized to the unit sphere (spherical k-means).
    // Empty cells simply drop out — their members reassign to surviving
    // cells. Only reached for large corpora (the small-corpus flat path
    // returned above), where refinement tightens cell radii so the angular
    // bound prunes more cells; one iteration by default, tunable via conf.
    // Exactness never depends on centroid quality, only probe cost does.
    // The final centroid plan feeds several broadcast assigns/bounds and is
    // tiny (nCentroids × dims rows) — one small materialization beats
    // re-running the seed scan (and any refinement passes) per consumer.
    val cents = Checkpoints.stabilize(
      buildCentroids(corpus, idCol, cu, nCentroids))
    val clamp: Column => Column =
      c => greatest(lit(-1.0d), least(lit(1.0d), c))
    // (nid, cid, csim): assignment doubles as the radius input — the
    // cell's angular radius r is acos(min member csim), carried as
    // (cos r, sin r) so the probe bound below never round-trips through
    // acos/cos (whose error amplifies to ~1e-8 near |csim|≈1 and could
    // wrongly prune a near-tie cell)
    val cellAssign = Checkpoints.stabilize(assignCells(cents)(cu, "nid", "nx"))
    val cellCorpus = cu.join(cellAssign.select("nid", "cid"), "nid")
    val radii = cellAssign.groupBy("cid")
      .agg(clamp(min(col("csim"))).as("cosr"))
      .withColumn("sinr", sqrt(greatest(lit(0.0d),
        lit(1.0d) - col("cosr") * col("cosr"))))
    // every (query, cell) centroid cosine — the pruning bound needs all of
    // them, not just the winner
    val qCell = Checkpoints.stabilize(
      qu.join(broadcast(cents), "dim")
        .groupBy(col("qid"), col("cid"))
        .agg(sum(col("qx") * col("cx")).as("qcs")))
    // pass 1: exhaustive scores within the nearest cell set the pruning
    // threshold t = kth-best cosine. A cell smaller than k yields t = -2,
    // below every bound — the probe degenerates to exhaustive, still exact.
    val w1 = Window.partitionBy("qid").orderBy(col("qcs").desc, col("cid").asc)
    val nearest = qCell.withColumn("rn", row_number().over(w1))
      .filter(col("rn") === 1).select("qid", "cid")
    // stabilized: consumed by the threshold derivation AND unioned into
    // the final ranking — one scoring of the nearest cell, not two
    val firstScored = Checkpoints.stabilize(cellCorpus
      .join(broadcast(qu.join(nearest, "qid")), Seq("cid", "dim"))
      .groupBy("qid", "nid").agg(sum(col("nx") * col("qx")).as("sim")))
    val wk = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)
    // left join over ALL query ids: a query whose nearest cell is
    // memberless (possible after Lloyd reassignment) must still probe with
    // t = -2, not vanish from the output
    val thresholds = qCell.select("qid").distinct()
      .join(firstScored.withColumn("rn", row_number().over(wk))
        .groupBy("qid")
        .agg(max(when(col("rn") === k, col("sim"))).as("tk")),
        Seq("qid"), "left_outer")
      .select(col("qid"), coalesce(col("tk"), lit(-2.0d)).as("t"))
    // pass 2: probe exactly the cells whose best possible member can still
    // beat t. The bound cos(max(0, angle(q,c) - r)) is computed by the
    // cosine addition formula — cos(a-r) = cos a·cos r + sin a·sin r with
    // cos a = qcs — so no acos/cos round-trip (1e-9 then safely covers
    // plain double arithmetic error). angle ≤ r  ⟺  qcs ≥ cos r, in which
    // case the bound is 1. The nearest cell is excluded — pass 1 already
    // scored it exhaustively and its results union back in below (on a
    // well-clustered corpus the nearest cell is most of the probed data;
    // re-scoring it would nearly double the work).
    val qcsC = clamp(col("qcs"))
    val sinA = sqrt(greatest(lit(0.0d), lit(1.0d) - qcsC * qcsC))
    val probe = qCell.join(broadcast(radii), "cid")
      .join(broadcast(thresholds), "qid")
      .filter(when(qcsC >= col("cosr"), lit(1.0d))
        .otherwise(qcsC * col("cosr") + sinA * col("sinr")) + lit(1e-9) >=
        col("t"))
      .select("qid", "cid")
      .join(nearest, Seq("qid", "cid"), "left_anti")
    val scored = cellCorpus
      .join(broadcast(qu.join(probe, "qid")), Seq("cid", "dim"))
      .groupBy("qid", "nid").agg(sum(col("nx") * col("qx")).as("sim"))
    topK(firstScored.unionAll(scored), k)
  }
}
