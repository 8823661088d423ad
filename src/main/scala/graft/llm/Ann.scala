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
  *    reach a kth-best threshold taken from cell metadata alone, which
  *    keeps the result EXACT. Small corpora score flat instead.
  *
  * The IVF layout (unit rows → centroids → assignment → cell stats and
  * cells, [[ivfLayout]]) and the probe planner ([[probeTopK]] over the
  * compiled [[CellBound]]s) are built here once and shared by `ivfTopK`
  * and the persisted [[AnnIndex]].
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

  /** Fold unit-normalized EXPLODED rows (keys, dim, x) back into one
    * `array<double>` per key tuple, ordered by dim — for exploded rows that are
    * ALREADY checkpointed because centroid assignment needs them anyway
    * (the semantic pair path, the IVF cells of [[assignAndFold]]): one
    * codegen'd collect_list aggregate over the checkpoint, no lambda
    * anywhere (struct sort is lexicographic on (dim, x) and dim is unique
    * per key tuple; `.getField` extracts the components). Values are
    * bit-identical to the exploded ones — no re-normalization. */
  private[llm] def foldUnitVectors(
      rows: DataFrame, x: String, vAs: String, keys: String*): DataFrame =
    rows.groupBy(keys.map(col): _*)
      .agg(array_sort(collect_list(struct(col("dim"), col(x)))).as("__s"))
      .select(keys.map(col) :+ col("__s").getField(x).as(vAs): _*)

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

  /** One IVF layout: centroids (cid, dim, cx), assignments (nid, cid,
    * csim), cell stats (cid, cosr, sinr, cnt) and cells (cid, nid, uvec). */
  private[llm] final case class IvfLayout(
      cents: DataFrame, assign: DataFrame, stats: DataFrame, cells: DataFrame)

  /** The IVF layout of `corpus`: unit rows → centroids ([[buildCentroids]],
    * Lloyd per `spark.graft.ann.ivf.kmeansIters`) → [[assignAndFold]] →
    * [[cellStats]]. Zero-norm vectors are dropped by [[unitRows]]. */
  private[llm] def ivfLayout(
      corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, foldAfterJoin: Boolean = false): IvfLayout = {
    // corpus unit rows feed three consumers (centroid set, assignment,
    // cell fold) — an eager localCheckpoint runs the explode+norm pipeline
    // once, truncates lineage (small downstream plans), and leaves no
    // CacheManager entry to tax later queries' planning
    val cu = unitRows(corpus, idCol, vecCol, "nid", "nx")
      .transform(Checkpoints.stabilize)
    // the centroid plan feeds the assignment and the cell bounds and is
    // tiny (nCentroids × dims rows) — one small materialization beats
    // re-running the seed scan (and any refinement passes) per consumer
    val cents = Checkpoints.stabilize(
      buildCentroids(corpus, idCol, cu, nCentroids))
    val (assign, cells) = assignAndFold(cents, cu, foldAfterJoin)
    IvfLayout(cents, assign, cellStats(assign), cells)
  }

  /** Assign unit rows `cu` (nid, dim, nx) to their nearest centroid and fold
    * each vector's components into one `uvec` array: (assignments (nid,
    * cid, csim), stabilized for the stats and the cells; cells (cid, nid,
    * uvec)). By default each vector folds once, before the join — the
    * form the index tables are written in. With `foldAfterJoin` the fold
    * groups the joined rows by (cid, nid), so a `cid` filter on the cells
    * (the probe's) reaches below it and only probed cells' vectors fold. */
  private[llm] def assignAndFold(
      cents: DataFrame, cu: DataFrame,
      foldAfterJoin: Boolean = false): (DataFrame, DataFrame) = {
    val assign = Checkpoints.stabilize(assignCells(cents)(cu, "nid", "nx"))
    val members = assign.select("cid", "nid")
    val cells =
      if (foldAfterJoin)
        foldUnitVectors(members.join(cu, "nid"), "nx", "uvec", "cid", "nid")
      else members.join(foldUnitVectors(cu, "nx", "uvec", "nid"), "nid")
    (assign, cells.select("cid", "nid", "uvec"))
  }

  /** Cell stats (cid, cosr, sinr, cnt) of member rows (cid, csim): the
    * cell's angular radius r is acos(min member csim), carried as (cos r,
    * sin r) so the probe bound never round-trips through acos/cos (whose
    * error amplifies to ~1e-8 near |csim|≈1 and could wrongly prune a
    * near-tie cell); cnt counts the members. */
  private[llm] def cellStats(members: DataFrame): DataFrame =
    withSinr(members.groupBy("cid").agg(
      greatest(lit(-1.0d), least(lit(1.0d), min(col("csim")))).as("cosr"),
      count(lit(1)).as("cnt")))

  /** (cid, cosr, sinr, cnt) from stats rows carrying cid, cosr and cnt. */
  private[llm] def withSinr(stats: DataFrame): DataFrame =
    stats.withColumn("sinr", sqrt(greatest(lit(0.0d),
        lit(1.0d) - col("cosr") * col("cosr"))))
      .select("cid", "cosr", "sinr", "cnt")

  /** One cell's inputs to the probe bound: its centroid's unit components
    * (`dims` ascending, `cx` aligned with them) and its stats — the angular
    * radius as (cos r, sin r) and the live member count `cnt`. */
  private[llm] final case class CellBound(
      cid: Any, dims: Array[Int], cx: Array[Double],
      cosr: Double, sinr: Double, cnt: Long)

  /** Every cell's [[CellBound]], plus the cid column's type. */
  private[llm] final case class CellBounds(
      cells: Array[CellBound], cidType: org.apache.spark.sql.types.DataType) {
    /** Vector length the centroids cover. */
    def dims: Int =
      cells.foldLeft(0)((m, c) => math.max(m, c.dims.lastOption.fold(0)(_ + 1)))
  }

  /** Collect centroid rows (cid, dim, cx) and stats rows (cid, cosr, sinr,
    * cnt) — nCentroids rows each — into [[CellBounds]]. A cell without a
    * stats row (or with pre-cnt stats) gets the widest radius and claims no
    * members: it is always probed and never tightens the threshold —
    * conservative costs a scan, the alternative costs exactness. */
  private[llm] def cellBounds(cents: DataFrame, stats: DataFrame): CellBounds = {
    val statsBy = stats.collect().map { r =>
      def num(f: String): Option[Number] =
        if (!stats.columns.contains(f) || r.isNullAt(r.fieldIndex(f))) None
        else Some(r.getAs[Number](f))
      r.getAs[Any]("cid") -> ((num("cosr").fold(-1.0)(_.doubleValue),
        num("sinr").fold(0.0)(_.doubleValue), num("cnt").fold(0L)(_.longValue)))
    }.toMap
    val cells = cents.collect()
      .filter(r => !r.isNullAt(1) && !r.isNullAt(2))
      .groupBy(_.get(0)).iterator.map { case (cid, rs) =>
        val comps = rs.map(r => (r.getInt(1), r.getDouble(2))).sortBy(_._1)
        val (cosr, sinr, cnt) = statsBy.getOrElse(cid, (-1.0, 0.0, 0L))
        CellBound(cid, comps.map(_._1), comps.map(_._2), cosr, sinr, cnt)
      }.toArray
    CellBounds(cells, cents.schema("cid").dataType)
  }

  /** The cells query vector `qv` must scan for an exact top-`k`; empty for
    * a null or zero-norm query (cosine undefined — it returns no rows, as
    * everywhere in the ANN family).
    *
    * With a = angle(q, centroid) and r = the cell's radius, every member's
    * cosine to q lies in [cos(a+r), cos(a-r)], expanded by the angle-sum
    * identities on the stored (cos r, sin r) — no acos anywhere. Clamps: a+r
    * past pi floors the interval at -1, a-r below 0 caps it at 1. Walking
    * the cells in lower-bound-descending order until their member counts
    * reach k proves "at least k members score >= t0"; a cell whose upper
    * bound misses t0 then provably holds no top-k member. Fewer than k
    * counted members gives t0 = -2: probe everything. cnt is maintained
    * conservatively low by [[AnnIndex.syncFromTable]], which only ever
    * weakens t0. The margin on ub absorbs double rounding, so the bound can
    * only probe an extra cell, never skip a required one. */
  private[llm] def probedCells(
      cells: Array[CellBound], qv: scala.collection.Seq[Any], k: Int): Seq[Any] = {
    if (qv == null) return Nil
    // (cid, ub, lb, cnt) per cell; the norm runs over the centroid's dims
    val bounds = cells.flatMap { c =>
      var dot = 0.0
      var norm2 = 0.0
      var i = 0
      while (i < c.dims.length) {
        val d = c.dims(i)
        if (d >= 0 && d < qv.length && qv(d) != null) {
          val x = qv(d).asInstanceOf[Double]
          dot += x * c.cx(i)
          norm2 += x * x
        }
        i += 1
      }
      if (norm2 <= 0.0) None
      else {
        val qcs = math.max(-1.0, math.min(1.0, dot / math.sqrt(norm2)))
        val sinA = math.sqrt(math.max(0.0, 1.0 - qcs * qcs))
        val ub = if (qcs >= c.cosr) 1.0 else qcs * c.cosr + sinA * c.sinr
        val lb = if (qcs < -c.cosr) -1.0 else qcs * c.cosr - sinA * c.sinr
        Some((c.cid, ub, lb, c.cnt))
      }
    }
    // lb ties share a value, so tie order cannot change t0
    var cum = 0L
    var t0 = -2.0
    bounds.sortBy(-_._3).foreach { case (_, _, lb, cnt) =>
      cum += cnt
      if (t0 == -2.0 && cum >= k) t0 = lb
    }
    bounds.toSeq.collect { case (cid, ub, _, _) if ub + 1e-9 >= t0 => cid }
  }

  /** Exact cosine top-k of `queries` against `cells` (cid, nid, uvec), the
    * cells of an IVF layout whose centroids and stats `bounds` holds.
    * Output (qid, rank, nid); query ids must be unique per call.
    *
    * One plan at every batch size:
    *  1. each query row gets its probed cells from [[probedCells]], run on
    *     the executors over a broadcast of `bounds` — the threshold comes
    *     from metadata alone, so the corpus is touched once and planning
    *     collects no query vector to the driver;
    *  2. the (qid, qv, probe) frame is stabilized lazily, so the one
    *     planning action — pair counts per probed cid, at most nCentroids
    *     rows — also runs the caller's query subtree, exactly once. Its cids
    *     become `isin` literals on `cells` (a partition-pruned scan when
    *     `cells` is a table range-partitioned by cid); its pair count
    *     decides whether the (qid, qv, cid) side fits
    *     `spark.sql.autoBroadcastJoinThreshold`;
    *  3. the probed cells join their queries on cid and score per document
    *     with [[pairDot]] on the raw query vector: |q|·cos ranks as the
    *     cosine does, with the same ties;
    *  4. [[topK]]'s window ranks, and checks in the same partitions that
    *     each qid came from one query row. */
  private[llm] def probeTopK(
      bounds: CellBounds, cells: DataFrame,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int): DataFrame = {
    val spark = cells.sparkSession
    val bc = spark.sparkContext.broadcast(bounds.cells)
    val probe = udf(new org.apache.spark.sql.api.java.UDF1[
        scala.collection.Seq[Any], Seq[Any]] {
      def call(qv: scala.collection.Seq[Any]): Seq[Any] =
        probedCells(bc.value, qv, k)
    }, org.apache.spark.sql.types.ArrayType(bounds.cidType))
    val q = queries
      .select(col(s"`$queryIdCol`").as("qid"),
        col(s"`$queryVecCol`").cast("array<double>").as("qv"))
      .select(col("qid"), col("qv"), probe(col("qv")).as("probe"))
      .transform(Checkpoints.stabilize(_, eager = false))
    // the one planning action: an RDD aggregate is a single job with no
    // shuffle stage, and it fills the stabilized frame's blocks on the way
    val cidCounts = q.select(explode(col("probe"))).rdd
      .aggregate(Map.empty[Any, Long])(
        (m, r) => m.updated(r.get(0), m.getOrElse(r.get(0), 0L) + 1L),
        (a, b) => b.foldLeft(a) { case (m, (c, n)) =>
          m.updated(c, m.getOrElse(c, 0L) + n) })
    val pairs =
      q.select(col("qid"), col("qv"), explode(col("probe")).as("cid"))
    val fits = cidCounts.values.sum.toDouble * bounds.dims * 8 <=
      org.apache.spark.sql.classic.ClassicConversions.castToImpl(spark)
        .sessionState.conf.autoBroadcastJoinThreshold
    val scored = cells
      .filter(if (cidCounts.isEmpty) lit(false)
        else col("cid").isin(cidCounts.keys.toSeq: _*))
      .join(if (fits) broadcast(pairs) else pairs, "cid")
      .select(col("qid"), col("nid"),
        pairDot(col("qv"), col("uvec"), bounds.dims).as("sim"))
    topK(scored, k, queries = Some(q))
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

  /** IVF-style ANN: exact cosine top-k for each query vector. Same output
    * shape as `bruteTopK`; query ids must be unique per call — a qid given
    * twice fails the query with an error naming it, on both paths below.
    *
    * ADAPTIVE: below `spark.graft.ann.ivf.smallCorpusBytes` (default
    * 256 MB, judged from plan-time statistics) building and probing a
    * cell index costs more in job orchestration than pruning can save,
    * so queries score the whole corpus in one flat pass instead —
    * FAISS's flat-search fallback for small indexes. Same exact result,
    * minimal job count.
    *
    * Above it, [[ivfLayout]] builds the cells: a deterministic first-N-by-id
    * sample of the corpus seeds the coarse centroids, refined by Lloyd
    * (k-means) iterations — set `spark.graft.ann.ivf.kmeansIters` (0 =
    * plain seeding; unset = one iteration) — and every vector is assigned to
    * its nearest centroid by cosine. The Lloyd step is PURE relational
    * algebra over the already-exploded unit rows: assign (broadcast join +
    * hash-agg + window) → per-(cell, dim) mean → re-normalize to unit
    * length — no per-vector lambdas, no driver-side math. The centroids and
    * cell stats (nCentroids rows each) compile to [[CellBound]]s, and
    * [[probeTopK]] — the planner [[AnnIndex.topK]] runs too — probes each
    * query's cells. Its kth-best threshold comes from cell METADATA alone
    * (member counts and angular radii), and a cell is probed only when its
    * angular upper bound can still reach it, so skipped cells provably hold
    * no top-k member: EXACT, not approximate. On a clustered corpus radii
    * are small and most cells prune; on unstructured data the bound
    * degrades toward an exhaustive scan — exactness is never traded away.
    */
  def ivfTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int = 10, nCentroids: Int = 16): DataFrame = {
    // Plan-time corpus size (no job) picks the path. Below the threshold
    // the layout and planning jobs (each eager materialization and
    // collect is a whole scheduled job, ~50 ms apiece on a toy corpus)
    // cost more than pruning can possibly save; identical exact results
    // either way.
    val smallBytes = corpus.sparkSession.conf
      .getOption("spark.graft.ann.ivf.smallCorpusBytes").map(_.toLong)
      .getOrElse(256L << 20)
    val smallCorpus = org.apache.spark.sql.classic.ClassicConversions
      .castToImpl(corpus).queryExecution.optimizedPlan.stats.sizeInBytes <
      BigInt(smallBytes)
    if (smallCorpus) {
      // flat probe (nprobe = nlist): one exhaustive scoring pass, no cell
      // index at all. The unit rows are NOT stabilized here: this path has
      // exactly one consumer, so an eager materialization job would be pure
      // overhead. One qid row per query row carries the duplicate check.
      val qu = unitRows(queries, queryIdCol, queryVecCol, "qid", "qx")
      val flat = unitRows(corpus, idCol, vecCol, "nid", "nx")
      val scored = flat.join(broadcast(qu), "dim")
        .groupBy("qid", "nid").agg(sum(col("nx") * col("qx")).as("sim"))
      topK(scored, k, queries = Some(queries.select(
        col(s"`${queryIdCol.replace("`", "``")}`").as("qid"))))
    } else {
      val layout = ivfLayout(corpus, idCol, vecCol, nCentroids,
        foldAfterJoin = true)
      probeTopK(cellBounds(layout.cents, layout.stats), layout.cells,
        queries, queryIdCol, queryVecCol, k)
    }
  }
}
