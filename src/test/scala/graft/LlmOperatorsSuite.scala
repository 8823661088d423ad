package graft

import org.apache.spark.sql.functions._

import graft.llm._

/** Correctness of the LLM-pipeline operators that have no SQL oracle:
  * MinHash-LSH recall on planted near-duplicates, SimHash hamming
  * proximity, and ANN ranking vs an exact in-memory brute force.
  */
class LlmOperatorsSuite extends GraftFunSuite {
  import spark.implicits._

  private val rnd = new scala.util.Random(7)
  private def sentence(n: Int): String =
    (0 until n).map(_ => s"w${rnd.nextInt(30)}").mkString(" ")

  test("minhash LSH finds planted near-duplicates, skips unrelated docs") {
    // 20 random docs plus 5 pairs of near-identical docs
    val base = (0 until 20).map(i => (i.toLong, sentence(120)))
    val pairs = (0 until 5).flatMap { i =>
      val s = sentence(120)
      val mutated = s.split(" ").zipWithIndex
        .map { case (w, j) => if (j % 25 == 0) "zz" + j else w }.mkString(" ")
      Seq((100L + i * 2, s), (101L + i * 2, mutated))
    }
    val df = (base ++ pairs).toDF("doc_id", "text")
    val found = Dedup.minhashNearDuplicates(df, "doc_id", "text",
        minJaccardPct = 50)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val expected = (0 until 5).map(i => (100L + i * 2, 101L + i * 2)).toSet
    assert(expected.subsetOf(found),
      s"missed planted near-dups: ${expected.diff(found)}; found $found")
    // no random pair should collide at 50% jaccard
    assert(found.forall { case (a, b) => a >= 100 && b >= 100 })
  }

  test("exact duplicate groups") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other text"))
      .toDF("doc_id", "text")
    val groups = Dedup.exactDuplicateGroups(df, "doc_id", "text")
      .select("keep_id", "dup_cnt").as[(Long, Long)].collect().toSet
    assert(groups == Set((1L, 2L), (3L, 1L)))
  }

  test("simhash: identical docs collide, mutated docs are close") {
    val s = sentence(200)
    val mutated = s.split(" ").zipWithIndex
      .map { case (w, j) => if (j % 40 == 0) "qq" + j else w }.mkString(" ")
    val df = Seq((1L, s), (2L, s), (3L, mutated), (4L, sentence(200)))
      .toDF("doc_id", "text")
    val fp = SimHash.fingerprints(df, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(3L)) <= 16)
    val nd = SimHash.nearDuplicates(df, "doc_id", "text", maxHamming = 16)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(nd.contains((1L, 2L)))
  }

  test("ngram jaccard skew guard drops hot shingles") {
    // 12 docs share one 3-gram; below maxKeyFreq it is the only overlap
    val docs = (0 until 12).map(i =>
      (i.toLong, s"alpha beta gamma unique$i tail$i end$i"))
    val df = docs.toDF("doc_id", "text")
    val guarded = Dedup.ngramJaccardPairs(df, "doc_id", "text",
      k = 3, minInter = 1, maxKeyFreq = 5)
    assert(guarded.count() == 0, "hot shingle must be dropped")
    val loose = Dedup.ngramJaccardPairs(df, "doc_id", "text",
      k = 3, minInter = 1, maxKeyFreq = 100)
    assert(loose.count() == 12L * 11 / 2)
  }

  test("simhash banding guarantees recall up to maxHamming (pigeonhole)") {
    // hamming-5 pair with the differing bits spread so that the old fixed
    // 4x16 banding shares NO band (bits 0/16/32/48/63 hit all four): the
    // derived maxHamming+1 = 6 bands must still surface it
    val far = (1L << 0) | (1L << 16) | (1L << 32) | (1L << 48) | (1L << 63)
    val fp = Seq((1L, 0L), (2L, far)).toDF("doc_id", "simhash")
    val got = SimHash.nearDuplicatesFromFingerprints(fp, maxHamming = 5)
      .as[(Long, Long, Int)].collect()
    assert(got.toSeq == Seq((1L, 2L, 5)), s"pair missed: ${got.toSeq}")
    // below the distance the pair must not be reported
    assert(SimHash.nearDuplicatesFromFingerprints(fp, maxHamming = 4).count() == 0)
  }

  test("checkpoint blocks release; persist/none modes work") {
    def pipelineOnce(): Unit = {
      val df = (0 until 30).map(i => (i.toLong, sentence(40))).toDF("doc_id", "text")
      Dedup.minhashNearDuplicates(df, "doc_id", "text", minJaccardPct = 50).count()
    }
    val sc = spark.sparkContext
    // track the SPECIFIC RDD ids the pipeline registers: other suites'
    // blocks get cleaned asynchronously (ContextCleaner), so total counts
    // race — ours must appear and then vanish regardless of that churn
    def newIdsSince(before: Set[Int]): Set[Int] =
      sc.getPersistentRDDs.keySet.toSet -- before
    def settleEmpty(ids: Set[Int]): Boolean = {
      var tries = 0
      while ((sc.getPersistentRDDs.keySet.toSet & ids).nonEmpty && tries < 100) {
        Thread.sleep(50); tries += 1
      }
      (sc.getPersistentRDDs.keySet.toSet & ids).isEmpty
    }
    val before = sc.getPersistentRDDs.keySet.toSet
    pipelineOnce()
    val mine = newIdsSince(before)
    assert(mine.nonEmpty,
      "expected the pipeline to leave stabilized blocks before release")
    Checkpoints.releaseAll()
    assert(settleEmpty(mine), s"blocks leaked: ids ${mine.mkString(",")}")
    // alternate modes produce the same results and also release cleanly
    for (mode <- Seq("persist", "none")) {
      val pre = sc.getPersistentRDDs.keySet.toSet
      spark.conf.set(Checkpoints.MODE_KEY, mode)
      try pipelineOnce() finally spark.conf.unset(Checkpoints.MODE_KEY)
      // the persist-mode entry is owned by the CacheManager, not the Dataset
      // wrapper: a GC here must not defeat releaseAll (it did when tracking
      // was by WeakReference — the wrapper died, the cache entry leaked)
      System.gc(); Thread.sleep(50)
      Checkpoints.releaseAll()
      assert(settleEmpty(newIdsSince(pre)), s"mode $mode leaked blocks")
    }
  }

  test("rolling fingerprint: NULL text stays NULL, empty text is 0") {
    val docs = Seq[(Long, String)]((1L, null), (2L, ""), (3L, "a b"))
      .toDF("doc_id", "text")
    val got = graft.llm.TextAnalysis.rollingFingerprint(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1)))
      .toMap
    assert(got(1L) == null, "null text must fingerprint to NULL")
    assert(got(2L) == 0L, "empty text must fingerprint to the fold seed 0")
    assert(got(3L) != null && got(3L) != 0L)
  }

  test("brute-force ANN matches in-memory exact top-k") {
    val vecs = (0 until 50).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 3)
    val got = Ann.bruteTopK(df, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5)
      .select("qid", "rank", "nid").as[(Long, Int, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toSeq }

    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    val byId = vecs.toMap
    (0L until 3L).foreach { q =>
      val expected = vecs.map { case (id, v) => (id, cos(byId(q), v)) }
        .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).toSeq
      assert(got(q) == expected, s"query $q: got ${got(q)}, expected $expected")
    }
  }

  test("LSH ANN returns each query's own vector first (bucketed recall)") {
    val vecs = (0 until 100).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 5)
    val got = Ann.lshTopK(df, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 3, numPlanes = 4, dims = 16)
      .select("qid", "rank", "nid").as[(Long, Int, Long)].collect()
    val first = got.filter(_._2 == 1).map(r => r._1 -> r._3).toMap
    (0L until 5L).foreach(q => assert(first(q) == q,
      s"query $q should find itself at rank 1 (same bucket), got ${first.get(q)}"))
  }

  test("IVF ANN finds each query's own vector at rank 1 in its cell") {
    val vecs = (0 until 100).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 5)
    // force the bound-pruning path (a frame this small would otherwise
    // take the flat nprobe=nlist fallback)
    spark.conf.set("spark.graft.ann.ivf.smallCorpusBytes", "0")
    try {
      val got = Ann.ivfTopK(df, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 3, nCentroids = 8)
        .select("qid", "rank", "nid").as[(Long, Int, Long)].collect()
      val first = got.filter(_._2 == 1).map(r => r._1 -> r._3).toMap
      (0L until 5L).foreach(q => assert(first(q) == q,
        s"query $q should find itself at rank 1, got ${first.get(q)}"))
    } finally spark.conf.unset("spark.graft.ann.ivf.smallCorpusBytes")
  }

  test("IVF flat fallback (small corpus) matches the pruning path exactly") {
    val vecs = (0 until 100).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 5)
    def run(): Seq[(Long, Int, Long)] =
      Ann.ivfTopK(df, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 3, nCentroids = 8)
        .select("qid", "rank", "nid").as[(Long, Int, Long)]
        .collect().toSeq.sorted
    val flat = run() // small frame → flat path by default
    spark.conf.set("spark.graft.ann.ivf.smallCorpusBytes", "0")
    val pruned = try run()
      finally spark.conf.unset("spark.graft.ann.ivf.smallCorpusBytes")
    assert(flat == pruned,
      s"flat and bound-pruned probe must agree row-for-row")
  }

  test("zero-norm vectors are excluded identically on every ANN path") {
    // cosine is undefined for the all-zero vector: it must neither return
    // results as a query nor appear as a neighbor — on brute, LSH, and
    // both IVF probe strategies alike (null sims would otherwise surface
    // probe-strategy-dependent candidate sets)
    val vecs = (0 until 40).map { i =>
      (i.toLong,
        if (i == 1 || i == 20) Array.fill(16)(0.0f)
        else Array.fill(16)(rnd.nextFloat() * 2 - 1))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 3) // query 1 is the zero vector
    def collectOf(got: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long)] =
      got.select("qid", "rank", "nid").as[(Long, Int, Long)]
        .collect().toSeq.sorted
    val brute = collectOf(Ann.bruteTopK(df, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5))
    val flat = collectOf(Ann.ivfTopK(df, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, nCentroids = 4))
    spark.conf.set("spark.graft.ann.ivf.smallCorpusBytes", "0")
    val pruned = try collectOf(Ann.ivfTopK(df, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, nCentroids = 4))
      finally spark.conf.unset("spark.graft.ann.ivf.smallCorpusBytes")
    val lsh = collectOf(Ann.lshTopK(df, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, numPlanes = 2, dims = 16))
    assert(brute.forall(r => r._1 != 1L && r._3 != 20L),
      s"zero-norm vectors must not appear as query or neighbor: $brute")
    assert(flat == brute, "IVF flat must equal brute with zero vectors present")
    assert(pruned == brute, "IVF pruned must equal brute with zero vectors present")
    assert(lsh.forall(r => r._1 != 1L && r._3 != 20L),
      s"LSH must exclude zero-norm vectors too: $lsh")
  }

  test("IVF is exact even when seeds land in one cluster") {
    // four tight, mutually-orthogonal clusters; ids ordered so the
    // first-N-by-id SEEDS all fall into cluster 0 — the worst case for
    // unrefined seeding. The angular bound must keep the result EXACT
    // under both bad and refined centroids (pruning quality may differ,
    // the answer may not).
    val rnd2 = new scala.util.Random(7)
    val centers = Array.tabulate(4) { c =>
      Array.tabulate(16)(d => if (d / 4 == c) 1f else 0f)
    }
    val vecs = (0 until 120).map { i =>
      val base = centers(i / 30)
      (i.toLong, base.map(v => v + (rnd2.nextFloat() * 0.1f - 0.05f)))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") % 30 === 7) // one per cluster
    val brute = Ann.bruteTopK(df, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5)
      .select("qid", "nid").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recallWith(iters: Int): Double = {
      spark.conf.set("spark.graft.ann.ivf.kmeansIters", iters.toString)
      // force the bound-pruning path: this test exists to prove the
      // angular bound never trades exactness, so the flat fallback (which
      // is trivially exact) must not mask it
      spark.conf.set("spark.graft.ann.ivf.smallCorpusBytes", "0")
      try {
        val ivf = Ann.ivfTopK(df, "vec_id", "embedding",
            queries, "vec_id", "embedding", k = 5, nCentroids = 4)
          .select("qid", "nid").as[(Long, Long)].collect()
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        brute.keys.toSeq.map { q =>
          ivf.getOrElse(q, Set.empty).intersect(brute(q)).size / 5.0
        }.sum / brute.size
      } finally {
        spark.conf.unset("spark.graft.ann.ivf.kmeansIters")
        spark.conf.unset("spark.graft.ann.ivf.smallCorpusBytes")
      }
    }
    val r0 = recallWith(0)
    val r2 = recallWith(2)
    info(f"recall@5: seeds-only $r0%.2f, after 2 Lloyd iters $r2%.2f")
    assert(r0 == 1.0, s"bound-pruned IVF must be exact with raw seeds: $r0")
    assert(r2 == 1.0, s"bound-pruned IVF must be exact after Lloyd: $r2")
  }

  test("IVF pruned path probes fewer than nCentroids cells per query") {
    // four tight, mutually-orthogonal clusters, cluster = id % 4, so the
    // first-N-by-id seeds land one per cluster. Exactness alone would also
    // pass with bounds that probe every cell; this pins the pruning. Each
    // call's queries share one cluster, so the cells filter's isin literals
    // (the union of the batch's probed cells) bound every query's probe.
    val rnd2 = new scala.util.Random(13)
    val nCentroids = 4
    val vecs = (0 until 80).map { i =>
      (i.toLong, Array.tabulate(16)(d =>
        (if (d / 4 == i % nCentroids) 1f else 0f) +
          rnd2.nextFloat() * 0.1f - 0.05f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    spark.conf.set("spark.graft.ann.ivf.smallCorpusBytes", "0")
    try (0 until nCentroids).foreach { c =>
      val queries = df.filter(col("vec_id") % nCentroids === c &&
        col("vec_id") < 24)
      val got = Ann.ivfTopK(df, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, nCentroids = nCentroids)
      val probed = got.queryExecution.analyzed.flatMap(_.expressions)
        .flatMap(_.collect {
          case org.apache.spark.sql.catalyst.expressions.In(
              a: org.apache.spark.sql.catalyst.expressions.Attribute, lits)
              if a.name == "cid" => lits
        }).flatten.distinct
      info(s"cluster $c: 6 queries probe ${probed.size} of $nCentroids cells")
      assert(probed.nonEmpty && probed.size < nCentroids,
        s"cluster $c's queries probed $probed")
      // only probed cells' vectors fold: the cid filter sits below the
      // collect_list aggregate that builds each uvec
      val folds = got.queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
            if a.aggregateExpressions.exists(_.exists(_.isInstanceOf[
              org.apache.spark.sql.catalyst.expressions.aggregate.CollectList])) => a
      }
      assert(folds.nonEmpty && folds.forall(_.exists {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.references.exists(_.name == "cid")
        case _ => false
      }), s"cluster $c: the uvec fold reads unprobed cells:\n" +
        got.queryExecution.optimizedPlan)
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.select("qid", "rank", "nid").as[(Long, Int, Long)].collect().toSet
      assert(rows(got) == rows(Ann.bruteTopK(df, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5)))
    } finally spark.conf.unset("spark.graft.ann.ivf.smallCorpusBytes")
  }

  test("language id picks the stopword-dominant language deterministically") {
    val df = Seq(
      (1L, "the cat and the dog is of to the house"),
      (2L, "der hund und das haus ist die katze und der"),
      (3L, "los gatos que una casa con para los que"),
      (4L, "les chats des maisons une avec pour les des"),
      (5L, "你好世界"),
      // accented Latin text: one é must NOT flip the verdict to zh —
      // zh requires non-ASCII DOMINANCE (majority of characters)
      (6L, "les cafés des maisons une avec pour les des")).toDF("doc_id", "text")
    val got = TextAnalysis.langId(df, "text", "doc_id")
      .select("doc_id", "lang_guess").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "es", 4L -> "fr",
      5L -> "zh", 6L -> "fr"))
  }

  test("rolling fingerprint: order-sensitive, deterministic") {
    val df = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "gamma beta alpha")).toDF("doc_id", "text")
    val fp = TextAnalysis.rollingFingerprint(df, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  test("multimodal decode plumbing: deterministic fake decode over binary") {
    val df = Seq((1L, "hello world"), (2L, "another doc")).toDF("doc_id", "text")
    val out = Multimodal.decodeTable(Multimodal.asPayload(df, "doc_id", "text"))
    val rows = out.collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getAs[Long]("byte_len") > 0)
      val img = r.getAs[org.apache.spark.sql.Row]("image")
      assert(img.getAs[Int]("width") >= 1 && img.getAs[Int]("width") <= 1920)
      assert(img.getAs[Int]("height") >= 1 && img.getAs[Int]("height") <= 1080)
      assert(r.getAs[scala.collection.Seq[_]]("frames").length == 4)
    }
    // determinism
    val again = Multimodal.decodeTable(Multimodal.asPayload(df, "doc_id", "text"))
    assert(rowsOf(out.drop("frames")) == rowsOf(again.drop("frames")))
  }

  test("multimodal decode reads REAL dimensions from planted PNG/JPEG bytes") {
    def imageBytes(w: Int, h: Int, format: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, 0x336699) // deterministic pixel
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, format, bos)
      bos.toByteArray
    }
    val corpus = Seq(
      (1L, imageBytes(640, 480, "png"), "png", 640, 480),
      (2L, imageBytes(123, 45, "png"), "png", 123, 45),
      (3L, imageBytes(320, 200, "jpg"), "jpeg", 320, 200),
      (4L, "not an image at all".getBytes("UTF-8"), "unknown", -1, -1))
    val df = corpus.map { case (id, b, _, _, _) => (id, b) }
      .toDF("doc_id", "payload")
    val out = df.withColumn("image", Multimodal.decodeImage(col("payload")))
      .select("doc_id", "image.*").collect()
      .map(r => r.getLong(0) -> r).toMap
    corpus.foreach { case (id, _, fmt, w, h) =>
      val r = out(id)
      if (w > 0) {
        assert(r.getAs[Boolean]("decoded"), s"doc $id should decode")
        assert(r.getAs[Int]("width") == w && r.getAs[Int]("height") == h,
          s"doc $id: got ${r.getAs[Int]("width")}x${r.getAs[Int]("height")}")
        assert(r.getAs[String]("format") == fmt)
        assert(r.getAs[Int]("channels") == 3)
      } else {
        // no codec recognizes it: deterministic fake fallback, flagged
        assert(!r.getAs[Boolean]("decoded"))
        assert(r.getAs[Int]("width") >= 1 && r.getAs[Int]("width") <= 1920)
      }
    }
  }

  test("decode routing: corrupt image-magic payloads get the SAME fallback " +
      "values as non-image payloads (UDF and relational paths agree)") {
    // one payload with a PNG signature but garbage after (enters the
    // ImageIO UDF, falls back inside it) and its twin without the
    // signature (skips the UDF entirely, relational fallback)
    val junk = "garbage-after-magic".getBytes("UTF-8")
    val withMagic = Array[Byte](0x89.toByte, 'P', 'N', 'G') ++ junk
    val df = Seq((1L, withMagic)).toDF("doc_id", "payload")
    val got = df.withColumn("image", Multimodal.decodeImage(col("payload")))
      .select("image.*").collect().head
    assert(!got.getAs[Boolean]("decoded"))
    // the UDF's internal fallback must equal the relational fallback
    // arithmetic for the same bytes
    val expected = df.select(
      Multimodal.fakeDecodeImage(col("payload")).as("f"))
      .select("f.*").collect().head
    assert(got.getAs[Int]("width") == expected.getAs[Int]("width") &&
      got.getAs[Int]("height") == expected.getAs[Int]("height"),
      s"fallback values diverge: $got vs $expected")
    // null payload decodes to a null struct, not a struct of nulls
    val nullRow = Seq((2L, null.asInstanceOf[Array[Byte]]))
      .toDF("doc_id", "payload")
      .withColumn("image", Multimodal.decodeImage(col("payload")))
      .select("image").collect().head
    assert(nullRow.isNullAt(0), "null payload must decode to null")
  }

  test("decode routing confs: prefilter=false probes everything; " +
      "extraMagicPrefixes widens the candidate set") {
    // a payload with a signature the built-in list does NOT carry (PSD
    // magic 8BPS) — stands in for a third-party-plugin format
    val psdish = "8BPSrest-of-payload".getBytes("UTF-8")
    val df = Seq((1L, psdish)).toDF("doc_id", "payload")
    def decode() = df.withColumn("image",
        Multimodal.decodeImage(col("payload"))).select("image.*")
      .collect().head
    // default: routed to the relational fallback without a probe
    assert(!decode().getAs[Boolean]("decoded"))
    // widened routing: enters the UDF (no JDK PSD reader here, so it still
    // falls back — to the SAME values, proving routing never changes them)
    val base = decode()
    withSQLConf("spark.graft.multimodal.extraMagicPrefixes" -> "38425053") {
      val got = decode()
      assert(got == base, s"widened routing changed values: $got vs $base")
    }
    // prefilter off: every payload probes ImageIO (plugin-complete mode);
    // values again identical, and planted PNGs still really decode
    withSQLConf("spark.graft.multimodal.prefilter" -> "false") {
      assert(decode() == base)
      val img = new java.awt.image.BufferedImage(
        17, 9, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      val real = Seq((2L, bos.toByteArray)).toDF("doc_id", "payload")
        .withColumn("image", Multimodal.decodeImage(col("payload")))
        .select("image.*").collect().head
      assert(real.getAs[Boolean]("decoded") &&
        real.getAs[Int]("width") == 17 && real.getAs[Int]("height") == 9)
    }
  }

  test("pii scrub redacts planted emails/ips/phones/ssns and counts them") {
    val df = Seq(
      (1L, "contact bob.smith+x@example.co.uk or 192.168.1.10 today"),
      (2L, "call +1-555-123-4567 re: ssn 123-45-6789"),
      (3L, "nothing sensitive here at all")).toDF("doc_id", "text")
    val out = TextAnalysis.piiScrub(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[String]("scrubbed_text") ==
      "contact <EMAIL> or <IP> today")
    assert(out(0).getAs[Int]("email_cnt") == 1 && out(0).getAs[Int]("ipv4_cnt") == 1)
    assert(out(1).getAs[String]("scrubbed_text") == "call <PHONE> re: ssn <SSN>")
    assert(out(1).getAs[Int]("phone_cnt") == 1 && out(1).getAs[Int]("ssn_cnt") == 1)
    assert(out(2).getAs[String]("scrubbed_text") == "nothing sensitive here at all")
    assert((0 to 2).forall(i => out(2).toSeq.drop(2).forall(_ == 0) || i < 2))
    // sequential audit: an IP-shaped substring INSIDE an email is scrubbed
    // once (as the email) — ipv4_cnt counts zero actual IP redactions
    val nested = Seq((9L, "mail john@mail.192.168.0.99.example.com now"))
      .toDF("doc_id", "text")
    val n = TextAnalysis.piiScrub(nested, "doc_id", "text").collect().head
    assert(n.getAs[String]("scrubbed_text") == "mail <EMAIL> now")
    assert(n.getAs[Int]("email_cnt") == 1 && n.getAs[Int]("ipv4_cnt") == 0,
      s"audit must count actual redactions: $n")
  }

  test("repetition stats count total vs distinct tokens") {
    val df = Seq(
      (1L, "spam spam spam spam"),
      (2L, "all words here differ")).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(df, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Int, Int)].collect().toSeq
    assert(got == Seq((1L, 4, 1), (2L, 4, 4)))
  }

  test("keepCanonical drops every clustered doc except the minimum id") {
    val docs = Seq((5L, "a"), (7L, "a2"), (9L, "a3"), (20L, "b"),
      (21L, "b2"), (40L, "solo")).toDF("doc_id", "text")
    val pairs = Seq((5L, 7L), (7L, 9L), (20L, 21L)).toDF("a_id", "b_id")
    val kept = Dedup.keepCanonical(docs, "doc_id",
        Dedup.duplicateClusters(pairs, "a_id", "b_id"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    // clusters {5,7,9} and {20,21} keep their minimum; 40 was never paired
    assert(kept == Seq(5L, 20L, 40L))
  }

  test("embedding near-dup finds the planted pair; zero vectors never pair") {
    val base = Array.tabulate(8)(d => (d + 1).toFloat)
    val near = base.clone(); near(0) = base(0) + 0.01f
    val other = Array.tabulate(8)(d => if (d % 2 == 0) 1f else -2f)
    val zero = Array.fill(8)(0f)
    val df = Seq((1L, base), (2L, near), (10L, other), (99L, zero))
      .toDF("doc_id", "embedding")
    val got = Dedup.embeddingNearDuplicates(df, "doc_id", "embedding",
        minCosine = 0.99, numPlanes = 1, dims = 8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L)), s"expected only the planted pair: $got")
    // a zero-norm embedding has no defined cosine: it must produce NO
    // pairs (its NaN sims would otherwise pass every >= threshold and
    // spuriously pair it with the whole bucket)
    assert(!got.exists(p => p._1 == 99L || p._2 == 99L))
  }

  test("embedding near-dup: a pair whose products are all null scores 0.0") {
    // non-null at complementary positions: every per-dimension product
    // has a null side
    val a = Seq(Some(1.0), None, Some(2.0), None)
    def b(sign: Double) = Seq(None, Some(3.0 * sign), None, Some(4.0 * sign))
    def bucket(v: Seq[Option[Double]]): Int =
      Ann.unitVecs(Seq((0L, v)).toDF("doc_id", "embedding"), "doc_id",
        "embedding", "id", "u", numPlanes = 1, dims = 4)
        .select("bucket").as[Int].head()
    // a vector and its negation fall on opposite sides of the one plane:
    // take the b that shares a's bucket, so the pair is scored at all
    val bv = Seq(1.0, -1.0).map(b).find(v => bucket(v) == bucket(a)).get
    val got = Dedup.embeddingNearDuplicates(
        Seq((1L, a), (2L, bv)).toDF("doc_id", "embedding"), "doc_id",
        "embedding", minCosine = 0.0, numPlanes = 1, dims = 4)
      .select("a_id", "b_id", "cosine").as[(Long, Long, Double)]
      .collect().toSeq
    assert(got == Seq((1L, 2L, 0.0)), s"got $got")
  }

  test("embedding near-dup MEGA-BUCKET cap: a direction-correlated corpus " +
      "that collapses into one raw-LSH bucket is residual-subdivided — " +
      "pair work bounded, emitted pairs exact") {
    // every vector shares one dominant direction (axis 0 = 5 ± noise):
    // all raw-LSH plane votes agree, so with ANY numPlanes the whole
    // corpus lands in O(1) buckets — the exposure the cap closes
    val rnd = new scala.util.Random(29)
    val vecs: Map[Long, Array[Double]] = (0 until 400).map { i =>
      i.toLong -> Array.tabulate(8)(d =>
        (if (d == 0) 5.0 else 0.0) + (rnd.nextDouble() - 0.5) * 2.0)
    }.toMap
    val df = vecs.toSeq.map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("doc_id", "embedding")
    val cap = 50
    val minCos = 0.93
    val got = Dedup.embeddingNearDuplicates(df, "doc_id", "embedding",
        minCosine = minCos, numPlanes = 4, dims = 8, maxBucketSize = cap)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // split telemetry: the skewed run must REPORT what it traded
    val repCapped = Dedup.lastSplitReport("embedding").get
    assert(repCapped.groupsSplit >= 1 && repCapped.largestGroup > cap &&
      repCapped.docsInSplitGroups >= 300 && repCapped.maxPlanes >= 1,
      s"skewed fixture must report its split: $repCapped")
    val full = Dedup.embeddingNearDuplicates(df, "doc_id", "embedding",
        minCosine = minCos, numPlanes = 4, dims = 8,
        maxBucketSize = 1000000)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // ... and an un-split run must report ZERO (output == uncapped spelling)
    assert(Dedup.lastSplitReport("embedding").exists(r =>
        r.groupsSplit == 0 && r.docsInSplitGroups == 0),
      s"uncapped run must report zero splits: " +
      Dedup.lastSplitReport("embedding"))
    assert(got.nonEmpty, "fixture must emit near-dup pairs")
    assert(got.subsetOf(full), "capped output must never invent pairs")
    // precision: every emitted pair really is >= minCos (exact driver dot)
    val unit = vecs.map { case (id, v0) =>
      val v = v0.map(x => x.toFloat.toDouble)
      val n = math.sqrt(v.map(x => x * x).sum)
      id -> v.map(_ / n)
    }
    got.foreach { case (a, b) =>
      val cos = unit(a).zip(unit(b)).map(p => p._1 * p._2).sum
      assert(cos >= minCos - 1e-9, s"pair ($a,$b) cos=$cos below $minCos")
    }
    // the BOUND: pair work shrank by well over the trivial margin — with
    // raw planes the corpus sat in O(1) buckets (uncapped pair count is
    // the witness); the capped run must emit from far smaller groups.
    // Compare candidate volumes via a direct probe of the bucket sizes.
    val probe = Dedup.embeddingNearDuplicates(df, "doc_id", "embedding",
        minCosine = -1.0, numPlanes = 4, dims = 8, maxBucketSize = cap)
      .count() // every within-group pair survives at threshold -1
    val probeFull = Dedup.embeddingNearDuplicates(df, "doc_id", "embedding",
        minCosine = -1.0, numPlanes = 4, dims = 8, maxBucketSize = 1000000)
      .count()
    assert(probe < probeFull / 4,
      s"pair work must shrink: capped $probe vs uncapped $probeFull")
  }

  test("token-budget mix == naive running total; crossing doc included, " +
      "under-budget domains keep everything, null weights drop") {
    val rnd = new scala.util.Random(3)
    val rows = (0 until 200).map { i =>
      (i.toLong, s"dom${i % 4}",
        if (i % 37 == 0) None else Some(10L + rnd.nextInt(90)))
    }
    val df = rows.toDF("doc_id", "source", "w")
    val budgets = Map(
      "dom0" -> 500L,   // interior cut
      "dom1" -> 1L,     // crossing doc included: exactly one survivor
      "dom2" -> 999999L) // under budget: whole domain kept; dom3 dropped
    val got = graft.llm.Curation
      .tokenBudgetMix(df, "doc_id", "source", "w", budgets)
      .select("doc_id").as[Long].collect().toSet

    def h(id: Long): Long =
      java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils
          .md5Hex(id.toString).substring(0, 8), 16)
    val want = rows.collect { case (id, d, Some(w)) if budgets.contains(d) =>
        (id, d, w, h(id) % 10000L, h(id))
      }
      .groupBy(_._2).flatMap { case (d, ds) =>
        val budget = budgets(d)
        var cum = 0L
        ds.sortBy(t => (t._4, t._5, t._1)).takeWhile { t =>
          val keep = cum < budget
          cum += t._3
          keep
        }.map(_._1)
      }.toSet
    assert(got == want, s"mix diverged\n spark: $got\n naive: $want")
    assert(want.nonEmpty)
    // exactly one survivor for the budget-1 domain (crossing doc included)
    assert(rows.count(r => r._2 == "dom1" && got(r._1)) == 1)
    // dropped domain contributes nothing
    assert(!rows.exists(r => r._2 == "dom3" && got(r._1)))
  }

  test("semantic k-means clusters == naive driver Lloyd; within-cluster " +
      "near-dup pairs == naive pair scan") {
    // three well-separated directions + per-vector noise: Lloyd must
    // recover the planted clusters, and Spark's relational rounds must
    // agree with a straightforward driver implementation exactly
    val rnd = new scala.util.Random(7)
    val protos = Seq(
      Array(1.0, 0, 0, 0, 1, 0, 0, 0), Array(0, 1.0, 0, 0, 0, 1, 0, 0),
      Array(0, 0, 1.0, 0, 0, 0, 1, 0))
    val vecs: Map[Long, Array[Double]] = (0 until 30).map { i =>
      val p = protos(i % 3)
      i.toLong -> p.map(_ * 5 + rnd.nextDouble() * 0.2)
    }.toMap + (99L -> Array.fill(8)(0.0)) // zero vector: always excluded
    val df = vecs.toSeq.map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding")

    def naive(k: Int, iters: Int): Map[Long, Long] = {
      // mirror the DataFrame's float storage so threshold-adjacent cosines
      // cannot flip between the reference and the operator
      val unit = vecs.flatMap { case (id, v0) =>
        val v = v0.map(x => x.toFloat.toDouble)
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n == 0.0) None else Some(id -> v.map(_ / n))
      }
      val seedIds = vecs.keys.toSeq.sorted.take(k)
      var cents: Map[Long, Array[Double]] =
        seedIds.flatMap(i => unit.get(i).map(i -> _)).toMap
      def assign(): Map[Long, Long] = unit.map { case (id, u) =>
        id -> cents.toSeq.map { case (cid, c) =>
          (c.zip(u).map(p => p._1 * p._2).sum, cid)
        }.minBy { case (s, cid) => (-s, cid) }._2
      }
      (0 until iters).foreach { _ =>
        val a = assign()
        cents = a.groupBy(_._2).map { case (cid, members) =>
          val ids = members.keys.toSeq
          val mean = Array.tabulate(8)(d => ids.map(unit(_)(d)).sum / ids.size)
          val n = math.sqrt(mean.map(x => x * x).sum)
          cid -> mean.map(_ / n)
        }
      }
      assign()
    }

    Seq(0, 2).foreach { iters =>
      val got = Dedup.semanticClusters(df, "vec_id", "embedding",
          k = 3, iters = iters)
        .select("vec_id", "cluster_id").as[(Long, Long)].collect().toMap
      val want = naive(3, iters)
      assert(got == want, s"iters=$iters: spark $got\n naive $want")
      assert(!got.contains(99L), "zero vector must be excluded")
    }

    // pairs: exact within-cluster cosine against a naive scan over the
    // naive assignment
    val gotPairs = Dedup.semanticNearDupPairs(df, "vec_id", "embedding",
        k = 3, minCosine = 0.999, iters = 2)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val unit = vecs.flatMap { case (id, v0) =>
      val v = v0.map(x => x.toFloat.toDouble)
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) None else Some(id -> v.map(_ / n))
    }
    val asg = naive(3, 2)
    val wantPairs = (for {
      (a, ca) <- asg.toSeq; (b, cb) <- asg.toSeq
      if a < b && ca == cb &&
        unit(a).zip(unit(b)).map(p => p._1 * p._2).sum >= 0.999
    } yield (a, b)).toSet
    assert(gotPairs == wantPairs,
      s"pairs diverged\n spark: $gotPairs\n naive: $wantPairs")
    assert(gotPairs.nonEmpty, "fixture must produce near-dup pairs")
  }

  test("semantic near-dup MEGA-CLUSTER cap: a cluster holding most of the " +
      "corpus is LSH-subdivided — pair work bounded, emitted pairs exact") {
    // skewed fixture: 300 of 400 vectors share one broad direction (one
    // cluster holds 75% of docs); noise is large enough that the md5
    // hyperplanes split the cluster by direction, small enough that
    // every one of the 300 still assigns to the same centroid
    val rnd = new scala.util.Random(13)
    val protos = (0 until 8).map(i =>
      Array.tabulate(8)(d => if (d == i) 5.0 else 0.0))
    // ids 0..7 are the prototypes themselves: with iters=0 they ARE the
    // centroids (first-k-by-id seeding), so assignment is fully pinned —
    // every noisy mega-direction doc lands on centroid 0 (its off-axis
    // noise ≤ 2 < the 5.0 axis signal)
    val vecs: Map[Long, Array[Double]] =
      ((0 until 8).map(i => i.toLong -> protos(i)) ++
       (8 until 308).map { i =>
        i.toLong -> protos(0).map(x => x + (rnd.nextDouble() - 0.5) * 4.0)
      } ++ (308 until 400).map { i =>
        val p = protos(1 + i % 7)
        i.toLong -> p.map(_ + (rnd.nextDouble() - 0.5) * 0.4)
      }).toMap
    val df = vecs.toSeq.map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding")
    val cap = 50

    val keyed = Dedup.semanticKeyedAssign(df, "vec_id", "embedding",
        k = 8, iters = 0, maxClusterSize = cap, dims = 8)._2
      .select("nid", "cid", "__pk").as[(Long, Long, Long)].collect()
    val byCluster = keyed.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byCluster.values.max >= 200,
      s"fixture must plant a mega-cluster: $byCluster")
    // split telemetry: exactly the mega-cluster reported
    val rep = Dedup.lastSplitReport("semantic").get
    assert(rep.groupsSplit >= 1 &&
      rep.largestGroup == byCluster.values.max.toLong &&
      rep.docsInSplitGroups >= byCluster.values.max.toLong,
      s"mega-cluster split must be reported: $rep vs $byCluster")
    // THE GATE: pair work is bounded by (cid, __pk) group sizes — the
    // mega-cluster must be split well below its own size; small clusters
    // keep __pk 0 (no extra work)
    val byKey = keyed.groupBy(k0 => (k0._2, k0._3)).view.mapValues(_.length)
    val maxGroup = byKey.values.max
    assert(maxGroup <= 3 * cap,
      s"largest pair group $maxGroup must be ~cap=$cap, groups: " +
      byKey.toMap.toSeq.sortBy(-_._2).take(8))
    assert(maxGroup < byCluster.values.max / 2,
      "the mega-cluster must actually be subdivided")
    val quadratic = byKey.values.map(n => n.toLong * n).sum
    val uncapped = byCluster.values.map(n => n.toLong * n).sum
    assert(quadratic < uncapped / 4,
      s"pair work must shrink: capped $quadratic vs uncapped $uncapped")

    // correctness of what IS emitted: capped output == exact cosine pairs
    // within each (cid, __pk) group (and therefore ⊆ the uncapped output)
    val minCos = 0.9
    val got = Dedup.semanticNearDupPairs(df, "vec_id", "embedding",
        k = 8, minCosine = minCos, iters = 0, maxClusterSize = cap, dims = 8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val unit = vecs.map { case (id, v0) =>
      val v = v0.map(x => x.toFloat.toDouble)
      val n = math.sqrt(v.map(x => x * x).sum)
      id -> v.map(_ / n)
    }
    val want = (for {
      a <- keyed; b <- keyed
      if a._1 < b._1 && a._2 == b._2 && a._3 == b._3 &&
        unit(a._1).zip(unit(b._1)).map(p => p._1 * p._2).sum >= minCos
    } yield (a._1, b._1)).toSet
    assert(got == want, s"capped pairs must be exact within sub-buckets: " +
      s"extra=${(got -- want).take(5)} missing=${(want -- got).take(5)}")
    assert(got.nonEmpty, "fixture must still emit near-dup pairs")
    val full = Dedup.semanticNearDupPairs(df, "vec_id", "embedding",
        k = 8, minCosine = minCos, iters = 0,
        maxClusterSize = 1000000, dims = 8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(full), "capped output must never invent pairs")
    assert(Dedup.lastSplitReport("semantic").exists(_.groupsSplit == 0),
      "uncapped run must report zero splits")
  }

  test("residual-LSH cap property fuzz: across random skew shapes, caps, " +
      "dims and plane counts — capped pairs are a subset of uncapped, " +
      "every emitted pair clears the threshold, sub-group populations " +
      "stay bounded") {
    val masterRnd = new scala.util.Random(0x5EED14)
    (0 until 24).foreach { trial =>
      val rnd = new scala.util.Random(masterRnd.nextLong())
      val dims = 4 + rnd.nextInt(9)        // 4..12
      val n = 120 + rnd.nextInt(180)       // 120..299 docs
      val cap = 10 + rnd.nextInt(40)       // 10..49
      val numPlanes = 1 + rnd.nextInt(5)   // 1..5
      val skew = rnd.nextDouble()          // hot-direction fraction
      val noise = 0.2 + rnd.nextDouble() * 3.0
      val hot = Array.tabulate(dims)(d => if (d == 0) 5.0 else 0.0)
      val vecs: Map[Long, Array[Double]] = (0 until n).map { i =>
        val base =
          if (rnd.nextDouble() < skew) hot
          else Array.tabulate(dims)(_ => (rnd.nextDouble() - 0.5) * 2.0)
        i.toLong -> base.map(x => x + (rnd.nextDouble() - 0.5) * noise)
      }.toMap
      val df = vecs.toSeq.map { case (id, v) => (id, v.map(_.toFloat)) }
        .toDF("doc_id", "embedding")
      val minCos = 0.7 + rnd.nextDouble() * 0.25
      val ctx = s"trial $trial (dims=$dims n=$n cap=$cap planes=" +
        s"$numPlanes skew=$skew noise=$noise minCos=$minCos)"

      // (a) capped ⊆ uncapped — the cap only ever forgoes pairs
      val capped = Dedup.embeddingNearDuplicates(df, "doc_id", "embedding",
          minCosine = minCos, numPlanes = numPlanes, dims = dims,
          maxBucketSize = cap)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      val uncapped = Dedup.embeddingNearDuplicates(df, "doc_id",
          "embedding", minCosine = minCos, numPlanes = numPlanes,
          dims = dims, maxBucketSize = 1000000)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      assert(capped.subsetOf(uncapped),
        s"$ctx: capped invented ${(capped -- uncapped).take(5)}")

      // (b) every emitted pair really clears the threshold (exact driver
      // dot over the same float-truncated values the operator saw)
      val unit = vecs.map { case (id, v0) =>
        val v = v0.map(x => x.toFloat.toDouble)
        val nn = math.sqrt(v.map(x => x * x).sum)
        id -> (if (nn == 0.0) v else v.map(_ / nn))
      }
      capped.foreach { case (a, b) =>
        val cos = unit(a).zip(unit(b)).map(p => p._1 * p._2).sum
        assert(cos >= minCos - 1e-9, s"$ctx: pair ($a,$b) cos=$cos")
      }

      // (c) the SEMANTIC path's sub-group populations stay ~cap-bounded
      // (its keyed assignment is the exposed production surface)
      val k = 2 + rnd.nextInt(6)
      val keyed = Dedup.semanticKeyedAssign(df, "doc_id", "embedding",
          k = k, iters = 1, maxClusterSize = cap, dims = dims)._2
        .select("cid", "__pk").as[(Long, Long)].collect()
      if (keyed.nonEmpty) {
        val maxGroup = keyed.groupBy(identity).values.map(_.length).max
        assert(maxGroup <= 4 * cap,
          s"$ctx k=$k: (cid,__pk) group of $maxGroup exceeds ~cap bound")
      }
    }
  }

  test("tfidf top-k ranks rare high-frequency terms first, ties by term") {
    val df = Seq(
      (1L, "apple apple banana common"),
      (2L, "banana common common"),
      (3L, "cherry common")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopK(df, "doc_id", "text", k = 2)
      .as[(Long, Int, String, Long, Long)].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    // doc1: apple tf2/df1=2 > banana 1/2; doc2: common 2/3 > banana 1/2;
    // doc3: cherry 1/1 > common 1/3
    assert(got == Seq(
      (1L, 1, "apple", 2L, 1L), (1L, 2, "banana", 1L, 2L),
      (2L, 1, "common", 2L, 3L), (2L, 2, "banana", 1L, 2L),
      (3L, 1, "cherry", 1L, 1L), (3L, 2, "common", 1L, 3L)))
    // exact ties (same tf/df score) break by term ascending
    val tied = Seq((9L, "zebra alpha")).toDF("doc_id", "text")
    val t = TextAnalysis.tfidfTopK(tied, "doc_id", "text", k = 2)
      .as[(Long, Int, String, Long, Long)].collect().sortBy(_._2).toSeq
    assert(t.map(_._3) == Seq("alpha", "zebra"))
  }

  test("sequence packing: shard-local offsets and boundary-spanning seq ids") {
    // one shard (numShards=1), maxTokens=5; docs of 3, 4, 2 tokens:
    // offsets 0, 3, 7 -> seq ids 0, 0 (spans into 1), 1
    val df = Seq(
      (1L, "a b c"), (2L, "d e f g"), (3L, "h i")).toDF("doc_id", "text")
    val got = TextAnalysis.packSequences(df, "doc_id", "text",
        maxTokens = 5, numShards = 1)
      .select("doc_id", "shard", "n_tokens", "offset", "seq_id")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 0L, 3L, 0L, 0L), (2L, 0L, 4L, 3L, 0L),
      (3L, 0L, 2L, 7L, 1L)))
    // two shards pack independently with their own offsets. Shards come
    // from the md5-derived id hash (engine-portable, skew-resistant):
    // md5("1")%2 = 0, md5("2")%2 = 1, md5("3")%2 = 0 — so docs 1 and 3
    // share shard 0 (offsets 0 then 3) and doc 2 is alone in shard 1.
    val sharded = TextAnalysis.packSequences(df, "doc_id", "text",
        maxTokens = 5, numShards = 2)
      .select("doc_id", "shard", "offset")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(sharded ==
      Map(1L -> (0L, 0L), 2L -> (1L, 0L), 3L -> (0L, 3L)))
    // ids sharing a common factor with numShards must NOT collapse into
    // one shard (the id%n failure mode): multiples of 4 spread across
    // shards under the hash
    val mult4 = (1 to 12).map(i => (i * 4L, "x y z")).toDF("doc_id", "text")
    val shards = TextAnalysis.packSequences(mult4, "doc_id", "text",
        maxTokens = 5, numShards = 4)
      .select("shard").as[Long].collect().toSet
    assert(shards.size > 1, s"multiples of 4 all packed into shards $shards")
  }

  test("duplicate clusters: multi-hop chains collapse to the min id") {
    // two clusters: a 4-node CHAIN 10-7-5-9 (diameter 3 — needs real
    // propagation, not one hop) and a pair 20-21; 30-31 pair; node 40 absent
    val pairs = Seq((10L, 7L), (7L, 5L), (5L, 9L), (20L, 21L), (31L, 30L))
      .toDF("a_id", "b_id")
    val got = Dedup.duplicateClusters(pairs, "a_id", "b_id")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(5L -> 5L, 7L -> 5L, 9L -> 5L, 10L -> 5L,
      20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 30L))
    // the distributed label-propagation path (forced by a zero small-graph
    // threshold) must produce the identical labeling
    val key = "spark.graft.dedup.localClusterMaxPairs"
    spark.conf.set(key, "0")
    try {
      val dist = Dedup.duplicateClusters(pairs, "a_id", "b_id")
        .as[(Long, Long)].collect().toMap
      assert(dist == got, s"distributed/local divergence: $dist vs $got")
    } finally spark.conf.unset(key)
  }

  test("duplicate clusters: localClusterMaxPairs at Long.MaxValue takes the " +
      "distributed path with the same clusters; a negative value fails") {
    val pairs = Seq((10L, 7L), (7L, 5L), (5L, 9L), (20L, 21L), (31L, 30L))
      .toDF("a_id", "b_id")
    def clusters() = Dedup.duplicateClusters(pairs, "a_id", "b_id")
      .as[(Long, Long)].collect().toMap
    val default = clusters()
    val key = "spark.graft.dedup.localClusterMaxPairs"
    assert(withSQLConf(key -> Long.MaxValue.toString)(clusters()) == default)
    val e = intercept[IllegalArgumentException](
      withSQLConf(key -> "-1")(clusters()))
    assert(e.getMessage.contains(s"$key must be in [0, ${Int.MaxValue}), got -1"))
  }

  test("stabilizeFlagged: flag detected inside the ONE materialization job") {
    val df = Seq((1L, 1L, false), (2L, 1L, true), (3L, 2L, false))
      .toDF("id", "cluster_id", "chg")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val (out, any) =
      try {
        val r = graft.llm.Checkpoints.stabilizeFlagged(df)
        Thread.sleep(300) // listener bus is async
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 1, s"expected ONE job, saw ${jobs.get()}")
    assert(any, "flagged row not detected")
    assert(out.columns.toSeq == Seq("id", "cluster_id"))
    assert(out.as[(Long, Long)].collect().toSet ==
      Set((1L, 1L), (2L, 1L), (3L, 2L)))
    // all-false flags: converged verdict
    val (_, any2) = graft.llm.Checkpoints.stabilizeFlagged(
      out.withColumn("chg", lit(false)))
    assert(!any2)
    graft.llm.Checkpoints.releaseAll()
  }

  test("contamination finds train docs overlapping the eval set") {
    val evalDoc = "alpha beta gamma delta epsilon zeta eta theta"
    val train = Seq(
      (1L, "prefix words then " + evalDoc + " trailing text here"), // contains it
      (2L, "completely unrelated words with no overlap at all"),
      (3L, "alpha beta gamma nothing else shared here now")) // only a 3-gram
      .toDF("doc_id", "text")
    val eval = Seq((100L, evalDoc)).toDF("doc_id", "text")
    val got = Dedup.contamination(train, eval, "doc_id", "text",
        k = 5, minOverlap = 1)
      .select("train_id", "eval_id", "overlap")
      .as[(Long, Long, Long)].collect().toSet
    // doc 1 shares all 4 distinct 5-grams of the eval doc; docs 2-3 share none
    assert(got == Set((1L, 100L, 4L)))
  }

  test("stratified sample: deterministic, nested, rate-respecting") {
    val df = (0 until 2000).map(i =>
      (i.toLong, if (i % 2 == 0) "en" else "de")).toDF("doc_id", "lang")
    def ids(rates: Map[String, Int]): Set[Long] =
      Curation.stratifiedSample(df, "doc_id", "lang", rates)
        .select("doc_id").as[Long].collect().toSet
    val s25 = ids(Map("en" -> 2500, "de" -> 10000))
    // deterministic: same call, same result
    assert(s25 == ids(Map("en" -> 2500, "de" -> 10000)))
    // de untouched, en downsampled to roughly a quarter
    assert(s25.count(_ % 2 == 1) == 1000)
    val enKept = s25.count(_ % 2 == 0)
    assert(enKept > 150 && enKept < 350, s"en kept $enKept of 1000")
    // nested: the 10% en-sample is a subset of the 25% en-sample
    val s10 = ids(Map("en" -> 1000, "de" -> 10000))
    assert(s10.filter(_ % 2 == 0).subsetOf(s25.filter(_ % 2 == 0)))
    // zero rate drops the stratum entirely
    assert(ids(Map("en" -> 0, "de" -> 10000)).forall(_ % 2 == 1))
  }

  test("shingle kernel == the relational k-gram and MinHash spelling it " +
      "replaced") {
    // the replaced spelling, kept here as the reference: k-grams by an
    // interpreted transform/slice/concat_ws lambda, signatures by a 64-min
    // aggregate over the exploded shingles
    def refGrams(text: org.apache.spark.sql.Column, k: Int,
        dedupe: Boolean): org.apache.spark.sql.Column = {
      val toks = TextAnalysis.tokens(text)
      val n = size(toks)
      val grams0 = transform(sequence(lit(1), n - (k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k))))
      when(n >= k, if (dedupe) array_distinct(grams0) else grams0)
        .otherwise(array().cast("array<string>"))
    }
    def refSignatures(df: org.apache.spark.sql.DataFrame, numHashes: Int,
        k: Int): org.apache.spark.sql.DataFrame = {
      val sh = df.select(col("doc_id"), explode(refGrams(col("text"), k,
          dedupe = false)).as("s"))
        .withColumn("h", xxhash64(col("s")))
      val rng = new scala.util.Random(42)
      val consts = Array.fill(numHashes)(rng.nextLong())
      val mins = (0 until numHashes).map { i =>
        val r = (i * 7 + 13) % 64
        min(shiftleft(col("h"), r).bitwiseOR(shiftrightunsigned(col("h"), 64 - r))
          .bitwiseXOR(lit(consts(i)))).as(s"m$i")
      }
      sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
        .select(col("doc_id"),
          array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
    }
    val words = new scala.util.Random(11)
    val long = (0 until 1200).map(_ => s"w${words.nextInt(40)}").mkString(" ")
    val docs = Seq[(Long, String)](
      (1L, null), (2L, ""), (3L, "Alpha"), (4L, "alpha beta"),
      (5L, "one two three"), (6L, "a b c a b c a b c d"),
      (7L, "The QUICK Brown fox JUMPS over THE quick brown FOX"),
      (8L, "Hello, world! It's a test... (really): yes? -- no; maybe."),
      (9L, "Crème brûlée à la carte: naïve façade, Ünïcödé ß straße €5"),
      (10L, long)).toDF("doc_id", "text")
    def ordered(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    for (k <- Seq(1, 3, 5)) {
      assert(ordered(docs.select(col("doc_id"), Dedup.shingles(col("text"), k))) ==
        ordered(docs.select(col("doc_id"), refGrams(col("text"), k, dedupe = true))),
        s"shingles k=$k")
      for (dedupe <- Seq(true, false)) {
        val ref = docs.select(col("doc_id"),
          explode(refGrams(col("text"), k, dedupe)).as("s"))
        assert(rowsOf(Dedup.shingleRows(docs, "doc_id", "text", k, dedupe)) ==
          rowsOf(ref), s"shingleRows k=$k dedupe=$dedupe")
      }
    }
    for ((numHashes, k) <- Seq((64, 3), (8, 2))) {
      val got = ordered(Dedup.minhashSignatures(docs, "doc_id", "text",
        numHashes, k))
      assert(got == ordered(refSignatures(docs, numHashes, k)),
        s"minhashSignatures numHashes=$numHashes k=$k")
      // null, empty and too-short documents have no signature
      assert(got.keySet == (if (k == 3) Set(5L, 6L, 7L, 8L, 9L, 10L)
        else Set(4L, 5L, 6L, 7L, 8L, 9L, 10L)))
    }
  }

  test("bandedSignatureRows: band keys equal the rows stored MinhashIndex " +
      "tables hold") {
    // captured before the per-document kernel replaced the aggregate
    // spelling: a stored index keeps band-matching new batches only while
    // these stay equal
    val docs = Seq((1L, "The quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumped over a lazy dog!"),
      (3L, "Graft tables keep MinHash signatures per band")).toDF("doc_id", "text")
    val expected = Map(
      1L -> Seq(-637075995, -210662093, 396764810, -1994116342, 1967083793,
        1892779714, -738046676, 717410662, 15411986, 1740233382, -185035543,
        1580579793, -1621952981, 1914402723, -163067253, -1306713408),
      2L -> Seq(-519140164, 524379218, 1599612131, 916077869, -1090264215,
        1761513076, 980363364, 568892110, 228288264, 730077898, 1612344579,
        930512963, -2083048828, -315255032, 1138166916, -1971076578),
      3L -> Seq(-570874059, 1140025024, 1953842767, -93689626, 1603773700,
        -96174996, -1978916854, 1506413492, -1714551981, 1562323227,
        -1460780528, -218400738, -153897746, 422293673, 624952905, 976624417))
    val got = Dedup.bandedSignatureRows(docs, "doc_id", "text")
      .as[(Long, Int, Int)].collect().toSeq.sorted
    assert(got == expected.toSeq.flatMap { case (d, keys) =>
      keys.zipWithIndex.map { case (key, band) => (d, band, key) } }.sorted)
  }

  test("MinhashIndex: incremental ingest over two batches equals one-shot " +
      "batch dedup; re-ingest overwrites signatures") {
    val base = (0 until 30).map(i => (i.toLong, sentence(120)))
    val pairs = (0 until 4).flatMap { i =>
      val s = sentence(120)
      val mutated = s.split(" ").zipWithIndex
        .map { case (w, j) => if (j % 25 == 0) "zz" + j else w }.mkString(" ")
      Seq((200L + i * 2, s), (201L + i * 2, mutated))
    }
    val corpus = (base ++ pairs).toDF("doc_id", "text")
    // split so planted pairs straddle batches: evens batch1, odds batch2
    val b1 = corpus.filter($"doc_id" % 2 === 0)
    val b2 = corpus.filter($"doc_id" % 2 === 1)
    val idx = java.nio.file.Files.createTempDirectory("mh_idx_").toString + "/ix"

    def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("a_id", "b_id").as[(Long, Long)].collect().toSet

    // ingest protocol per batch: pairs against the stored index, then
    // upsert the batch's signatures (batch 1 starts the index, so its
    // internal pairs come from the one-shot operator below)
    MinhashIndex.upsert(spark, idx, b1, "doc_id", "text")
    val inc1 = pairsOf(MinhashIndex.incrementalPairs(spark, idx,
      corpus, b2, "doc_id", "text", minJaccardPct = 50))
    MinhashIndex.upsert(spark, idx, b2, "doc_id", "text")

    val batch1Internal = pairsOf(
      Dedup.minhashNearDuplicates(b1, "doc_id", "text", minJaccardPct = 50))
    val oneShot = pairsOf(
      Dedup.minhashNearDuplicates(corpus, "doc_id", "text", minJaccardPct = 50))
    assert(batch1Internal ++ inc1 == oneShot,
      s"incremental != batch: missing ${oneShot -- (batch1Internal ++ inc1)}, " +
      s"extra ${(batch1Internal ++ inc1) -- oneShot}")
    // the planted straddling pairs all surfaced in the incremental step
    assert((0 until 4).forall(i => inc1.contains((200L + i * 2, 201L + i * 2))))

    // re-ingest a CHANGED document: its old signature rows must be
    // replaced, not accumulated (PK (doc_id, band) last-wins)
    val before = spark.read.format("graft").load(idx)
      .filter($"doc_id" === 200L).count()
    MinhashIndex.upsert(spark, idx,
      Seq((200L, sentence(90))).toDF("doc_id", "text"), "doc_id", "text")
    val after = spark.read.format("graft").load(idx)
      .filter($"doc_id" === 200L).count()
    assert(before == after,
      s"re-ingest must overwrite per-(doc,band) rows: $before -> $after")
  }

  test("AnnIndex: persisted IVF equals brute force row-for-row; " +
      "probed-cell scan is partition-pruned") {
    val rndv = new scala.util.Random(11)
    val emb = ((0 until 200).map(i =>
        (i.toLong, Array.fill(16)(rndv.nextFloat() * 2 - 1))) :+
        (500L, Array.fill(16)(0.0f))) // zero vector: dropped everywhere
      .toDF("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 4 || $"vec_id" === 500L)
    val idx = java.nio.file.Files
      .createTempDirectory("ann_idx_").toString + "/ix"
    AnnIndex.build(spark, idx, emb, "vec_id", "embedding", nCentroids = 8)

    val got = AnnIndex.topK(spark, idx, queries, "vec_id", "embedding", k = 7)
      .select("qid", "rank", "nid").as[(Long, Int, Long)].collect().toSet
    val want = Ann.bruteTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 7)
      .select("qid", "rank", "nid").as[(Long, Int, Long)].collect().toSet
    assert(got == want,
      s"index != brute: missing ${want -- got}, extra ${got -- want}")
    assert(!got.exists(_._1 == 500L), "zero-norm query must return no rows")

    // the cells table is range-partitioned by cid: a one-cell filter scans
    // a strict subset of the partitions
    val cells = spark.read.format("graft").load(s"$idx/cells")
    val allCids = cells.select("cid").distinct().as[Long].collect()
    assert(allCids.length > 1, "corpus should spread over multiple cells")
    val snap = graft.meta.SnapshotManagement.snapshot(
      graft.meta.SnapshotManagement.normalize(s"$idx/cells"))
    val oneCellFiles = snap.files.count(_.rangeKey.contains(s"cid=${allCids.head}"))
    assert(oneCellFiles < snap.files.length,
      "one-cell scan must not touch every partition's files")

    // the caller's query subtree runs ONCE per call: the planning action
    // fills the lazily stabilized query frame the scoring job then reads
    withTempTable { qDir =>
      emb.write.format("graft").save(qDir)
      val evals = spark.sparkContext.longAccumulator("ann_query_evals")
      val counted = udf { (v: Seq[Float]) => evals.add(1L); v }
      val qTable = spark.read.format("graft").load(qDir)
        .filter($"vec_id" < 4 || $"vec_id" === 500L)
        .select($"vec_id", counted($"embedding").as("embedding"))
      val once = AnnIndex.topK(spark, idx, qTable, "vec_id", "embedding",
          k = 7)
        .select("qid", "rank", "nid").as[(Long, Int, Long)].collect().toSet
      assert(evals.value == 5L,
        s"5 query rows evaluated ${evals.value} times by one topK call")
      assert(once == want,
        s"index != brute: missing ${want -- once}, extra ${once -- want}")
    }
  }

  test("AnnIndex.topK: a batch that repeats a query id fails, naming it") {
    val rndv = new scala.util.Random(5)
    val emb = (0 until 60).map(i =>
        (i.toLong, Array.fill(8)(rndv.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val idx = java.nio.file.Files
      .createTempDirectory("ann_dup_").toString + "/ix"
    AnnIndex.build(spark, idx, emb, "vec_id", "embedding", nCentroids = 4)
    // identical copies at k = 1: only one copy's row can win the rank
    val queries = emb.filter($"vec_id" < 3).union(emb.filter($"vec_id" === 1L))
    def failsNamingQid1(run: => Unit): Unit = {
      val e = intercept[Exception](run)
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(msgs.contains("duplicate query id 1"), msgs)
    }
    failsNamingQid1(AnnIndex.topK(spark, idx, queries,
      "vec_id", "embedding", k = 1).collect())
    // Ann.ivfTopK keeps the same contract on its flat (small frame) and
    // pruned paths
    def ivf(): Unit = Ann.ivfTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 1, nCentroids = 4).collect()
    failsNamingQid1(ivf())
    spark.conf.set("spark.graft.ann.ivf.smallCorpusBytes", "0")
    try failsNamingQid1(ivf())
    finally spark.conf.unset("spark.graft.ann.ivf.smallCorpusBytes")
  }

  test("AnnIndex.syncFromTable: index follows the corpus table's feed and " +
      "stays exact vs brute force after update/insert/delete") {
    withTempTable { corpusDir =>
      val rndv = new scala.util.Random(23)
      def vec() = Array.fill(16)(rndv.nextFloat() * 2 - 1)
      val t0 = (0 until 120).map(i => (i.toLong, vec()))
        .toDF("vec_id", "embedding")
      t0.write.format("graft")
        .option("hashPartitions", "vec_id").option("hashBucketNum", "2")
        .save(corpusDir)
      val idx = java.nio.file.Files
        .createTempDirectory("ann_sync_").toString + "/ix"
      AnnIndex.syncFromTable(spark, idx, corpusDir, "vec_id", "embedding",
        nCentroids = 6) // first call = full build

      // mutate: update vec 3, insert 300, delete 7
      val t = graft.tables.GraftTable.forPath(spark, corpusDir)
      t.upsert(Seq((3L, vec()), (300L, vec())).toDF("vec_id", "embedding"))
      t.delete(org.apache.spark.sql.functions.col("vec_id") === 7L)
      AnnIndex.syncFromTable(spark, idx, corpusDir, "vec_id", "embedding",
        nCentroids = 6)

      val corpusNow = spark.read.format("graft").load(corpusDir)
      val queries = corpusNow.filter($"vec_id" < 3 || $"vec_id" === 300L)
      val got = AnnIndex.topK(spark, idx, queries, "vec_id", "embedding", k = 5)
        .select("qid", "rank", "nid").as[(Long, Int, Long)].collect().toSet
      val want = Ann.bruteTopK(corpusNow, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5)
        .select("qid", "rank", "nid").as[(Long, Int, Long)].collect().toSet
      assert(got == want,
        s"synced index != brute: missing ${want -- got}, extra ${got -- want}")
      // the deleted vector is gone from the index entirely
      assert(!got.exists(_._3 == 7L))
      assert(spark.read.format("graft").load(s"$idx/cells")
        .filter($"nid" === 7L).count() == 0)

      // tombstone economy: the sync touched 3 ids (update 3, insert 300,
      // delete 7) and must write AT MOST one death warrant per touched id
      // (only moved/deleted ids get one) — not |touched| × |cells|
      val cellsSnap = graft.meta.SnapshotManagement.snapshot(
        graft.meta.SnapshotManagement.normalize(s"$idx/cells"))
      val syncTombFiles = cellsSnap.files.filter(f =>
        f.writeVersion == cellsSnap.version && graft.meta.Tombstones.fileHas(f))
      val tombRows =
        if (syncTombFiles.isEmpty) 0L
        else spark.read.parquet(
            syncTombFiles.map(f => s"${cellsSnap.tablePath}/${f.path}"): _*)
          .filter(org.apache.spark.sql.functions
            .col(graft.meta.Tombstones.COL) === true).count()
      assert(tombRows <= 3L,
        s"sync wrote $tombRows tombstones for 3 touched ids — fan-out is back")
      // the assign table tracks live ids exactly: 7 out, 300 in, 3 current
      val assign = spark.read.format("graft").load(s"$idx/assign")
      assert(assign.filter($"nid" === 7L).count() == 0)
      assert(assign.filter($"nid" === 300L).count() == 1)
      assert(assign.count() == corpusNow.count(),
        "assign table must hold exactly one row per live corpus vector")
    }
  }

  test("chunkDocuments: overlap, tail chunk, short and empty docs") {
    val df = Seq(
      (1L, "a" * 10),   // shorter than one chunk
      (2L, "b" * 25),   // 25 chars, chunk=10 stride=6 -> ceil(15/6)+1 = 4
      (3L, ""),         // empty still yields one (empty) chunk
      (4L, "c" * 16)    // exact chunk+stride boundary: 2 chunks
    ).toDF("doc_id", "text")
    val got = TextAnalysis.chunkDocuments(df, "doc_id", "text",
        chunkChars = 10, strideChars = 6)
      .select("doc_id", "chunk_idx", "chunk_text", "chunk_len")
      .as[(Long, Int, String, Int)].collect().toSet
    assert(got == Set(
      (1L, 0, "a" * 10, 10),
      (2L, 0, "b" * 10, 10), (2L, 1, "b" * 10, 10),
      (2L, 2, "b" * 10, 10), (2L, 3, "b" * 7, 7),
      (3L, 0, "", 0),
      (4L, 0, "c" * 10, 10), (4L, 1, "c" * 10, 10)))
    // consecutive chunks overlap by chunk - stride characters
    val two = TextAnalysis.chunkDocuments(
        Seq((9L, "0123456789ABCDEF")).toDF("doc_id", "text"),
        "doc_id", "text", chunkChars = 10, strideChars = 6)
      .orderBy("chunk_idx").select("chunk_text").as[String].collect()
    assert(two.toSeq == Seq("0123456789", "6789ABCDEF"))
    // NULL text must not make the document vanish: it keeps one chunk row
    val withNull = Seq((10L, Some("xy")), (11L, None))
      .toDF("doc_id", "text")
    val nullRows = TextAnalysis.chunkDocuments(withNull, "doc_id", "text",
        chunkChars = 10, strideChars = 6)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(nullRows == Seq(10L, 11L),
      s"null-text doc dropped from chunk output: $nullRows")
  }

  test("MinhashIndex.syncFromTable follows the docs table's change feed: " +
      "update re-signatures, delete tombstones, insert appends") {
    withTempTable { docsDir =>
      val idx = java.nio.file.Files
        .createTempDirectory("mh_sync_").toString + "/ix"
      val t0 = Seq((1L, sentence(60)), (2L, sentence(60)), (3L, sentence(60)))
        .toDF("doc_id", "text")
      t0.write.format("graft")
        .option("hashPartitions", "doc_id").option("hashBucketNum", "2")
        .save(docsDir)

      // first sync = full build
      MinhashIndex.syncFromTable(spark, idx, docsDir, "doc_id", "text")
      def indexState(): Map[Long, Set[Int]] =
        spark.read.format("graft").load(idx)
          .select("doc_id", "key").as[(Long, Int)].collect()
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val s0 = indexState()
      assert(s0.keySet == Set(1L, 2L, 3L))

      // mutate the docs table: update 1's text, insert 4, delete 2, and
      // SHRIVEL 5 (text falls below shingleK tokens — doc stays LIVE in
      // the table but must leave the index: zero shingles, zero bands)
      val t = graft.tables.GraftTable.forPath(spark, docsDir)
      t.upsert(Seq((5L, sentence(60))).toDF("doc_id", "text"))
      MinhashIndex.syncFromTable(spark, idx, docsDir, "doc_id", "text")
      t.upsert(Seq((1L, sentence(60)), (4L, sentence(60)), (5L, "wo"))
        .toDF("doc_id", "text"))
      t.delete(org.apache.spark.sql.functions.col("doc_id") === 2L)

      val v = MinhashIndex.syncFromTable(spark, idx, docsDir, "doc_id", "text")
      assert(v == graft.meta.SnapshotManagement
        .snapshot(graft.meta.SnapshotManagement.normalize(docsDir)).version)
      val s1 = indexState()
      assert(s1.keySet == Set(1L, 3L, 4L), s"index keys ${s1.keySet}")
      assert(spark.read.format("graft").load(docsDir)
        .filter($"doc_id" === 5L).count() == 1,
        "doc 5 must still be LIVE in the docs table")
      assert(s1(1L) != s0(1L), "updated doc must carry NEW signatures")
      assert(s1(3L) == s0(3L), "untouched doc's signatures must not change")

      // idempotence: re-sync with no table change commits nothing new
      val idxVer = graft.meta.SnapshotManagement
        .snapshot(graft.meta.SnapshotManagement.normalize(idx)).version
      MinhashIndex.syncFromTable(spark, idx, docsDir, "doc_id", "text")
      assert(graft.meta.SnapshotManagement
        .snapshot(graft.meta.SnapshotManagement.normalize(idx)).version
        == idxVer)
    }
  }

  test("MinhashIndex.maintainStream: continuous CDF tail keeps the index " +
      "in lockstep with the docs table") {
    withTempTable { docsDir =>
      val idx = java.nio.file.Files
        .createTempDirectory("mh_cont_").toString + "/ix"
      val ckpt = java.nio.file.Files
        .createTempDirectory("mh_cont_ck_").toString
      Seq((1L, sentence(60)), (2L, sentence(60)), (3L, sentence(60)))
        .toDF("doc_id", "text").write.format("graft")
        .option("hashPartitions", "doc_id").option("hashBucketNum", "2")
        .save(docsDir)
      // initial build before the tail starts: the stream signals CHANGES,
      // the first build is the caller's explicit step
      MinhashIndex.syncFromTable(spark, idx, docsDir, "doc_id", "text")
      def indexKeys(): Set[Long] =
        spark.read.format("graft").load(idx)
          .select("doc_id").distinct().as[Long].collect().toSet
      assert(indexKeys() == Set(1L, 2L, 3L))
      val q = MinhashIndex.maintainStream(spark, idx, docsDir,
        "doc_id", "text", ckpt)
      try {
        val t = graft.tables.GraftTable.forPath(spark, docsDir)
        t.upsert(Seq((4L, sentence(60))).toDF("doc_id", "text"))
        t.delete($"doc_id" === 2L)
        q.processAllAvailable()
        assert(indexKeys() == Set(1L, 3L, 4L), s"index keys ${indexKeys()}")
        // sidecar advanced to the docs table's current version: the next
        // manual sync is a no-op commit-wise
        val idxVer = graft.meta.SnapshotManagement.snapshot(
          graft.meta.SnapshotManagement.normalize(idx)).version
        MinhashIndex.syncFromTable(spark, idx, docsDir, "doc_id", "text")
        assert(graft.meta.SnapshotManagement.snapshot(
          graft.meta.SnapshotManagement.normalize(idx)).version == idxVer)
      } finally q.stop()
    }
  }

  test("AnnIndex.maintainStream: continuous CDF tail, exact vs brute " +
      "after streamed mutations") {
    withTempTable { corpusDir =>
      val rndv = new scala.util.Random(53)
      def vec() = Array.fill(8)(rndv.nextFloat() * 2 - 1)
      (0 until 40).map(i => (i.toLong, vec())).toDF("vec_id", "embedding")
        .write.format("graft")
        .option("hashPartitions", "vec_id").option("hashBucketNum", "2")
        .save(corpusDir)
      val idx = java.nio.file.Files
        .createTempDirectory("ann_cont_").toString + "/ix"
      val ckpt = java.nio.file.Files
        .createTempDirectory("ann_cont_ck_").toString
      AnnIndex.syncFromTable(spark, idx, corpusDir, "vec_id", "embedding",
        nCentroids = 4)
      val q = AnnIndex.maintainStream(spark, idx, corpusDir,
        "vec_id", "embedding", ckpt, nCentroids = 4)
      try {
        val t = graft.tables.GraftTable.forPath(spark, corpusDir)
        t.upsert((0 until 5).map(_ => (rndv.nextInt(60).toLong, vec()))
          .distinctBy(_._1).toDF("vec_id", "embedding"))
        t.delete($"vec_id" === 7L)
        q.processAllAvailable()
        val corpusNow = spark.read.format("graft").load(corpusDir)
        val queries = corpusNow.orderBy("vec_id").limit(2)
        val got = AnnIndex.topK(spark, idx, queries, "vec_id", "embedding",
            k = 3)
          .select("qid", "rank", "nid").as[(Long, Int, Long)]
          .collect().toSet
        val want = Ann.bruteTopK(corpusNow, "vec_id", "embedding",
            queries, "vec_id", "embedding", k = 3)
          .select("qid", "rank", "nid").as[(Long, Int, Long)]
          .collect().toSet
        assert(got == want, s"index diverged from brute\n got $got\n want $want")
      } finally q.stop()
    }
  }

  test("AnnIndex.maintainStream(autoRebuild): the maintenance stream pays " +
      "the deferred rebuild on a background thread and keeps syncing") {
    withTempTable { corpusDir =>
      val rndv = new scala.util.Random(59)
      def vec() = Array.fill(6)(rndv.nextFloat() * 2 - 1)
      (0 until 40).map(i => (i.toLong, vec())).toDF("vec_id", "embedding")
        .write.format("graft")
        .option("hashPartitions", "vec_id").option("hashBucketNum", "2")
        .save(corpusDir)
      val idx = java.nio.file.Files
        .createTempDirectory("ann_auto_rb_").toString + "/ix"
      val ckpt = java.nio.file.Files
        .createTempDirectory("ann_auto_rb_ck_").toString
      AnnIndex.syncFromTable(spark, idx, corpusDir, "vec_id", "embedding",
        nCentroids = 4)
      // threshold so low the first touched batch crosses it
      spark.conf.set("spark.graft.ann.index.rebuildChurnFraction", "0.01")
      val q = AnnIndex.maintainStream(spark, idx, corpusDir,
        "vec_id", "embedding", ckpt, nCentroids = 4,
        autoRebuild = true)
      try {
        val t = graft.tables.GraftTable.forPath(spark, corpusDir)
        t.upsert(Seq((1L, vec()), (41L, vec())).toDF("vec_id", "embedding"))
        q.processAllAvailable() // sync marks due; kicks the daemon build
        // the rebuild runs off the stream thread — wait for the swap
        val deadline = System.currentTimeMillis() + 120000
        while ((AnnIndex.rebuildDue(idx) ||
            AnnIndex.tableRoot(idx) == idx) &&
            System.currentTimeMillis() < deadline)
          Thread.sleep(250)
        assert(AnnIndex.tableRoot(idx) == s"$idx/gen-1",
          s"auto rebuild must swap generations: ${AnnIndex.tableRoot(idx)}")
        assert(!AnnIndex.rebuildDue(idx))
        // stream keeps maintaining the NEW generation, exactly
        spark.conf
          .set("spark.graft.ann.index.rebuildChurnFraction", "100.0")
        t.upsert(Seq((2L, vec()), (42L, vec())).toDF("vec_id", "embedding"))
        t.delete($"vec_id" === 3L)
        q.processAllAvailable()
        val corpusNow = spark.read.format("graft").load(corpusDir)
        val queries = corpusNow.orderBy("vec_id").limit(2)
        val got = AnnIndex.topK(spark, idx, queries, "vec_id", "embedding",
            k = 3).select("qid", "rank", "nid")
          .as[(Long, Int, Long)].collect().toSet
        val want = Ann.bruteTopK(corpusNow, "vec_id", "embedding",
            queries, "vec_id", "embedding", k = 3)
          .select("qid", "rank", "nid").as[(Long, Int, Long)].collect().toSet
        assert(got == want,
          s"post-auto-rebuild index diverged\n got $got\n want $want")
      } finally {
        q.stop()
        spark.conf.unset("spark.graft.ann.index.rebuildChurnFraction")
      }
    }
  }

  test("AnnIndex DEFERRED churn rebuild: crossing the threshold marks " +
      "rebuild-due while syncs stay incremental; rebuildIfDue builds a " +
      "fresh generation and atomically swaps") {
    withTempTable { corpusDir =>
      val rndv = new scala.util.Random(61)
      def vec() = Array.fill(6)(rndv.nextFloat() * 2 - 1)
      (0 until 50).map(i => (i.toLong, vec())).toDF("vec_id", "embedding")
        .write.format("graft")
        .option("hashPartitions", "vec_id").option("hashBucketNum", "2")
        .save(corpusDir)
      val idx = java.nio.file.Files
        .createTempDirectory("ann_churn_rb_").toString + "/ix"
      AnnIndex.syncFromTable(spark, idx, corpusDir, "vec_id", "embedding",
        nCentroids = 4)
      def root(): String = AnnIndex.tableRoot(idx)
      def centroidsVersion(): Long = graft.meta.SnapshotManagement.snapshot(
        graft.meta.SnapshotManagement.normalize(s"${root()}/centroids"))
        .version
      def assertExact(): Unit = {
        val corpusNow = spark.read.format("graft").load(corpusDir)
        val queries = corpusNow.orderBy("vec_id").limit(2)
        val got = AnnIndex.topK(spark, idx, queries, "vec_id", "embedding",
            k = 3).select("qid", "rank", "nid")
          .as[(Long, Int, Long)].collect().toSet
        val want = Ann.bruteTopK(corpusNow, "vec_id", "embedding",
            queries, "vec_id", "embedding", k = 3)
          .select("qid", "rank", "nid").as[(Long, Int, Long)].collect().toSet
        assert(got == want)
      }
      val t = graft.tables.GraftTable.forPath(spark, corpusDir)
      try {
        // far below threshold: centroids must NOT move, nothing due
        spark.conf.set("spark.graft.ann.index.rebuildChurnFraction", "100.0")
        val v0 = centroidsVersion()
        t.upsert(Seq((1L, vec()), (2L, vec())).toDF("vec_id", "embedding"))
        AnnIndex.syncFromTable(spark, idx, corpusDir, "vec_id", "embedding",
          nCentroids = 4)
        assert(centroidsVersion() == v0,
          "sub-threshold churn must stay incremental")
        assert(!AnnIndex.rebuildDue(idx))
        // accumulated churn crosses the threshold: the sync MARKS the
        // rebuild due and STAYS INCREMENTAL — no inline build, no
        // latency cliff on the sync path
        spark.conf.set("spark.graft.ann.index.rebuildChurnFraction", "0.05")
        t.upsert(Seq((3L, vec())).toDF("vec_id", "embedding"))
        AnnIndex.syncFromTable(spark, idx, corpusDir, "vec_id", "embedding",
          nCentroids = 4)
        assert(centroidsVersion() == v0,
          "crossing the threshold must NOT build inline")
        assert(AnnIndex.rebuildDue(idx), "the sidecar must mark the debt")
        // further syncs while the rebuild is pending: still incremental,
        // still due, still EXACT
        t.upsert(Seq((4L, vec()), (51L, vec())).toDF("vec_id", "embedding"))
        AnnIndex.syncFromTable(spark, idx, corpusDir, "vec_id", "embedding",
          nCentroids = 4)
        assert(centroidsVersion() == v0 && AnnIndex.rebuildDue(idx),
          "pending rebuild must not change sync behavior")
        assertExact()
        // pay the debt OFF the sync path: new generation + atomic swap
        assert(AnnIndex.rebuildIfDue(spark, idx, corpusDir,
          "vec_id", "embedding", nCentroids = 4))
        assert(root() == s"$idx/gen-1", s"pointer must swap: ${root()}")
        assert(!AnnIndex.rebuildDue(idx), "the debt is paid")
        assertExact()
        // single-flight: nothing due -> no-op
        assert(!AnnIndex.rebuildIfDue(spark, idx, corpusDir,
          "vec_id", "embedding", nCentroids = 4))
        // counter reset: small churn after the rebuild does NOT re-mark;
        // the sync lands in the NEW generation
        spark.conf.set("spark.graft.ann.index.rebuildChurnFraction", "0.5")
        val v1 = centroidsVersion()
        t.upsert(Seq((5L, vec())).toDF("vec_id", "embedding"))
        AnnIndex.syncFromTable(spark, idx, corpusDir, "vec_id", "embedding",
          nCentroids = 4)
        assert(!AnnIndex.rebuildDue(idx),
          "post-rebuild counter must restart from zero")
        assert(centroidsVersion() == v1)
        assertExact()
        // a second (forced) rebuild moves to gen-2 and drops nothing newer
        // than the generation it replaced
        assert(AnnIndex.rebuildIfDue(spark, idx, corpusDir,
          "vec_id", "embedding", nCentroids = 4, force = true))
        assert(root() == s"$idx/gen-2")
        assertExact()
        // syncs continue on the new generation
        t.upsert(Seq((6L, vec())).toDF("vec_id", "embedding"))
        AnnIndex.syncFromTable(spark, idx, corpusDir, "vec_id", "embedding",
          nCentroids = 4)
        assertExact()
      } finally spark.conf.unset("spark.graft.ann.index.rebuildChurnFraction")
    }
  }

  test("AnnIndex rebuild hygiene: a held cross-process build lock makes " +
      "rebuildIfDue report false instead of double-building, and stranded " +
      "staging dirs from a crashed builder are swept before the next build") {
    withTempTable { corpusDir =>
      val rndv = new scala.util.Random(67)
      def vec() = Array.fill(6)(rndv.nextFloat() * 2 - 1)
      (0 until 30).map(i => (i.toLong, vec())).toDF("vec_id", "embedding")
        .write.format("graft")
        .option("hashPartitions", "vec_id").option("hashBucketNum", "2")
        .save(corpusDir)
      val idx = java.nio.file.Files
        .createTempDirectory("ann_lockswp_").toString + "/ix"
      AnnIndex.syncFromTable(spark, idx, corpusDir, "vec_id", "embedding",
        nCentroids = 4)
      assert(AnnIndex.rebuildIfDue(spark, idx, corpusDir, "vec_id",
        "embedding", nCentroids = 4, force = true))
      assert(AnnIndex.tableRoot(idx) == s"$idx/gen-1")
      // simulate a CRASHED builder: a staging dir ahead of the pointer,
      // referenced by nothing
      val stranded = java.nio.file.Paths.get(idx, "gen-7")
      java.nio.file.Files.createDirectories(stranded)
      java.nio.file.Files.write(stranded.resolve("partial.parquet"),
        Array[Byte](1, 2, 3))
      // a held build lock (another driver mid-build): no rebuild, no swap,
      // the stranded dir stays (the holder may legitimately own staging)
      val lockCh = java.nio.channels.FileChannel.open(
        java.nio.file.Paths.get(idx, "_graft_ann_gen.buildlock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      val held = lockCh.lock()
      try {
        assert(!AnnIndex.rebuildIfDue(spark, idx, corpusDir, "vec_id",
          "embedding", nCentroids = 4, force = true),
          "a concurrent builder holds the lock — must not double-build")
        assert(AnnIndex.tableRoot(idx) == s"$idx/gen-1", "no swap")
        assert(java.nio.file.Files.exists(stranded))
      } finally { held.release(); lockCh.close() }
      // lock free again: the retry sweeps the crashed staging dir, builds
      // gen-2, swaps, and leaves exactly live + previous on disk
      assert(AnnIndex.rebuildIfDue(spark, idx, corpusDir, "vec_id",
        "embedding", nCentroids = 4, force = true))
      assert(AnnIndex.tableRoot(idx) == s"$idx/gen-2")
      assert(!java.nio.file.Files.exists(stranded),
        "crashed staging dirs ahead of the pointer must be swept")
      val gens = {
        val ls = java.nio.file.Files.list(java.nio.file.Paths.get(idx))
        try {
          val b = Seq.newBuilder[String]
          ls.iterator().forEachRemaining { p =>
            val n = p.getFileName.toString
            if (n.startsWith("gen-")) b += n
          }
          b.result().sorted
        } finally ls.close()
      }
      assert(gens == Seq("gen-1", "gen-2"),
        s"exactly live + previous generations must remain, got $gens")
      val corpusNow = spark.read.format("graft").load(corpusDir)
      val queries = corpusNow.orderBy("vec_id").limit(2)
      val got = AnnIndex.topK(spark, idx, queries, "vec_id", "embedding",
          k = 3)
        .select("qid", "rank", "nid").as[(Long, Int, Long)].collect().toSet
      val want = Ann.bruteTopK(corpusNow, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 3)
        .select("qid", "rank", "nid").as[(Long, Int, Long)].collect().toSet
      assert(got == want)
    }
  }

  test("AnnIndex sync soak: exact vs brute after every one of 5 random " +
      "mutation rounds") {
    withTempTable { corpusDir =>
      val rndv = new scala.util.Random(37)
      def vec() = Array.fill(12)(rndv.nextFloat() * 2 - 1)
      (0 until 80).map(i => (i.toLong, vec())).toDF("vec_id", "embedding")
        .write.format("graft")
        .option("hashPartitions", "vec_id").option("hashBucketNum", "2")
        .save(corpusDir)
      val idx = java.nio.file.Files
        .createTempDirectory("ann_soak_").toString + "/ix"
      AnnIndex.syncFromTable(spark, idx, corpusDir, "vec_id", "embedding",
        nCentroids = 5)
      // low compaction threshold so the bounded-fan-in assertion below
      // genuinely discriminates: without sync-time compaction the hot cell
      // partitions stack one delta per round and blow past 2 by round 3
      spark.conf.set("spark.graft.compaction.deltaFileMaxNum", "2")
      // the soak verifies the INCREMENTAL path round after round — a
      // churn-triggered rebuild mid-soak would reset the delta stacks and
      // void the fan-in assertion
      spark.conf.set("spark.graft.ann.index.rebuildChurnFraction", "0")
      val t = graft.tables.GraftTable.forPath(spark, corpusDir)
      try (1 to 5).foreach { round =>
        // random batch of upserts (mix of updates and fresh ids) + deletes
        val ups = (0 until 3 + rndv.nextInt(5))
          .map(_ => (rndv.nextInt(120).toLong, vec())).distinctBy(_._1)
        t.upsert(ups.toDF("vec_id", "embedding"))
        val del = rndv.nextInt(120).toLong
        t.delete(org.apache.spark.sql.functions.col("vec_id") === del)
        AnnIndex.syncFromTable(spark, idx, corpusDir, "vec_id", "embedding",
          nCentroids = 5)
        val corpusNow = spark.read.format("graft").load(corpusDir)
        // deterministic query pick: an unordered limit(3) could evaluate
        // to DIFFERENT rows on the index and brute paths (CI flake)
        val queries = corpusNow.orderBy("vec_id").limit(3)
        val got = AnnIndex.topK(spark, idx, queries, "vec_id", "embedding",
            k = 4)
          .select("qid", "rank", "nid").as[(Long, Int, Long)].collect().toSet
        val want = Ann.bruteTopK(corpusNow, "vec_id", "embedding",
            queries, "vec_id", "embedding", k = 4)
          .select("qid", "rank", "nid").as[(Long, Int, Long)].collect().toSet
        assert(got == want, s"round $round: index diverged from brute — " +
          s"missing ${want -- got}, extra ${got -- want}")
      } finally {
        spark.conf.unset("spark.graft.compaction.deltaFileMaxNum")
        spark.conf.unset("spark.graft.ann.index.rebuildChurnFraction")
      }
      // sync-time compaction keeps the index tables' merge fan-in bounded:
      // without it every sync stacks one more delta file (plus death
      // warrants) onto each touched cell partition until the next full
      // build, and topK pays the fan-in forever. The trigger is the same
      // threshold a plain upsert gets (deltaFileMaxNum, 2 here).
      Seq(s"$idx/cells", s"$idx/assign").foreach { p =>
        val snap = graft.meta.SnapshotManagement.snapshot(
          graft.meta.SnapshotManagement.normalize(p))
        val worst = snap.deltaFileCountByRange.values.maxOption.getOrElse(0)
        assert(worst <= 2,
          s"$p: a partition holds $worst delta files after 5 syncs — " +
            "sync-time compaction is not firing")
      }
    }
  }

  test("AnnIndex churn: probe stats stay EXACT across many syncs with no " +
      "full rebuild — no decay toward probe-every-cell") {
    withTempTable { corpusDir =>
      val rndv = new scala.util.Random(59)
      def vec() = Array.fill(10)(rndv.nextFloat() * 2 - 1)
      (0 until 90).map(i => (i.toLong, vec())).toDF("vec_id", "embedding")
        .write.format("graft")
        .option("hashPartitions", "vec_id").option("hashBucketNum", "2")
        .save(corpusDir)
      val idx = java.nio.file.Files
        .createTempDirectory("ann_churn_").toString + "/ix"
      AnnIndex.syncFromTable(spark, idx, corpusDir, "vec_id", "embedding",
        nCentroids = 5)
      val t = graft.tables.GraftTable.forPath(spark, corpusDir)
      // this test's contract is NO full rebuild — the churn trigger would
      // fire mid-soak and hand the re-stat path a free pass
      spark.conf.set("spark.graft.ann.index.rebuildChurnFraction", "0")
      try {
      (1 to 8).foreach { _ =>
        val ups = (0 until 4 + rndv.nextInt(6))
          .map(_ => (rndv.nextInt(140).toLong, vec())).distinctBy(_._1)
        t.upsert(ups.toDF("vec_id", "embedding"))
        t.delete(org.apache.spark.sql.functions
          .col("vec_id") === rndv.nextInt(140).toLong)
        AnnIndex.syncFromTable(spark, idx, corpusDir, "vec_id", "embedding",
          nCentroids = 5)
      }
      // under the old grow-only/decrement-only fold, 8 churn rounds leave
      // sum(cnt) well below the live corpus and radii frozen at their
      // historical widest; the exact re-stat keeps both build-fresh
      val stats = spark.read.format("graft").load(s"$idx/cellstats")
        .select("cid", "cosr", "cnt").as[(Long, Double, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      val cents = spark.read.format("graft").load(s"$idx/centroids")
      val truth = spark.read.format("graft").load(s"$idx/cells")
        .select($"cid", $"nid",
          org.apache.spark.sql.functions.posexplode($"uvec")
            .as(Seq("dim", "nx")))
        .join(cents, Seq("cid", "dim"))
        .groupBy("cid", "nid")
        .agg(org.apache.spark.sql.functions.sum($"nx" * $"cx").as("csim"))
        .groupBy("cid")
        .agg(org.apache.spark.sql.functions.min("csim").as("cosr"),
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("cnt"))
        .as[(Long, Double, Long)].collect()
      assert(truth.nonEmpty)
      truth.foreach { case (cid, wantCosr, wantCnt) =>
        val (gotCosr, gotCnt) = stats.getOrElse(cid,
          fail(s"cell $cid has members but no stats row"))
        assert(gotCnt == wantCnt,
          s"cell $cid: stored cnt $gotCnt != live membership $wantCnt")
        assert(math.abs(gotCosr - math.max(-1.0, math.min(1.0, wantCosr)))
            < 1e-9,
          s"cell $cid: stored cosr $gotCosr != exact min csim $wantCosr")
      }
      // any stats row for a now-empty cell must claim nothing
      val emptyCells = stats.keySet -- truth.map(_._1).toSet
      emptyCells.foreach { cid =>
        assert(stats(cid)._2 == 0L, s"empty cell $cid claims cnt>0")
      }
      assert(stats.values.map(_._2).sum ==
        spark.read.format("graft").load(s"$idx/cells").count(),
        "sum(cnt) must equal the live cell membership — cnt has decayed")
      // and the index is still exact
      val corpusNow = spark.read.format("graft").load(corpusDir)
      val queries = corpusNow.orderBy("vec_id").limit(4)
      val got = AnnIndex.topK(spark, idx, queries, "vec_id", "embedding",
          k = 5)
        .select("qid", "rank", "nid").as[(Long, Int, Long)].collect().toSet
      val want = Ann.bruteTopK(corpusNow, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5)
        .select("qid", "rank", "nid").as[(Long, Int, Long)].collect().toSet
      assert(got == want,
        s"churned index != brute: missing ${want -- got}, extra ${got -- want}")
      } finally spark.conf.unset("spark.graft.ann.index.rebuildChurnFraction")
    }
  }

  test("sync sidecar validation: wrong source table and rewound history " +
      "both fail loudly instead of corrupting the index") {
    withTempTable { dirA => withTempTable { dirB =>
      val docs = Seq((1L, sentence(40))).toDF("doc_id", "text")
      docs.write.format("graft")
        .option("hashPartitions", "doc_id").option("hashBucketNum", "1")
        .save(dirA)
      docs.write.format("graft")
        .option("hashPartitions", "doc_id").option("hashBucketNum", "1")
        .save(dirB)
      val idx = java.nio.file.Files
        .createTempDirectory("mh_sidecar_").toString + "/ix"
      MinhashIndex.syncFromTable(spark, idx, dirA, "doc_id", "text")
      // different source table: must refuse, not mix histories
      val e1 = intercept[IllegalArgumentException] {
        MinhashIndex.syncFromTable(spark, idx, dirB, "doc_id", "text")
      }
      assert(e1.getMessage.contains("synced to"))
      // advance A a few versions, sync, then recreate A from scratch
      // (history rewound): version goes backwards -> must refuse
      val t = graft.tables.GraftTable.forPath(spark, dirA)
      t.upsert(Seq((2L, sentence(40))).toDF("doc_id", "text"))
      t.upsert(Seq((3L, sentence(40))).toDF("doc_id", "text"))
      MinhashIndex.syncFromTable(spark, idx, dirA, "doc_id", "text")
      graft.write.TransactionalWrite.deleteRecursively(
        java.nio.file.Paths.get(dirA))
      graft.meta.SnapshotManagement.invalidate(dirA)
      docs.write.format("graft")
        .option("hashPartitions", "doc_id").option("hashBucketNum", "1")
        .save(dirA)
      val e2 = intercept[IllegalArgumentException] {
        MinhashIndex.syncFromTable(spark, idx, dirA, "doc_id", "text")
      }
      assert(e2.getMessage.contains("rewound"))
    }}
  }

  test("MinhashIndex rejects mismatched signature parameters loudly") {
    val idx = java.nio.file.Files.createTempDirectory("mh_idx_p_").toString + "/ix"
    val docs = Seq((1L, sentence(50))).toDF("doc_id", "text")
    MinhashIndex.upsert(spark, idx, docs, "doc_id", "text",
      numHashes = 64, bands = 16)
    // different banding would silently never match stored keys — must throw
    val e1 = intercept[IllegalArgumentException] {
      MinhashIndex.incrementalPairs(spark, idx, docs, docs, "doc_id", "text",
        numHashes = 64, bands = 8)
    }
    assert(e1.getMessage.contains("bands"))
    val e2 = intercept[IllegalArgumentException] {
      MinhashIndex.upsert(spark, idx, docs, "doc_id", "text",
        numHashes = 32, bands = 16)
    }
    assert(e2.getMessage.contains("numHashes"))
    // matching parameters still work
    MinhashIndex.incrementalPairs(spark, idx, docs, docs, "doc_id", "text")
      .collect()
  }

  test("heavyHitters: exact counts, doc frequencies, deterministic ties") {
    val df = Seq(
      (1L, "apple apple banana"),
      (2L, "apple cherry cherry"),
      (3L, "banana cherry date")).toDF("doc_id", "text")
    val got = TextAnalysis.heavyHitters(df, "doc_id", "text", k = 3)
      .as[(String, Long, Long)].collect().toSeq
    // apple 3x/2docs, cherry 3x/2docs (tie broken term-asc), banana 2x/2docs
    assert(got == Seq(("apple", 3L, 2L), ("cherry", 3L, 2L),
      ("banana", 2L, 2L)))
  }

  test("duplicateSpans == naive span merge over randomized corpora with " +
      "planted shared substrings; scrubSpans removes exactly those words") {
    val k = 5
    // independent naive spelling: string grams, driver-side frequency map,
    // linear span merge (merge iff next position <= prev + k)
    def naiveSpans(docs: Seq[(Long, String)], minDocs: Int)
        : Set[(Long, Long, Long, Long)] = {
      val toks = docs.map { case (id, t) =>
        id -> "[a-z0-9]+".r.findAllIn(t.toLowerCase).toVector }
      val grams = toks.flatMap { case (id, ws) =>
        if (ws.size >= k) (0 to ws.size - k).map(p =>
          (id, p, ws.slice(p, p + k).mkString(" "))) else Nil }
      val dup = grams.groupBy(_._3)
        .filter(_._2.map(_._1).distinct.size >= minDocs).keySet
      grams.filter(g => dup(g._3)).groupBy(_._1).toSeq.flatMap {
        case (id, gs) =>
          val ps = gs.map(_._2).sorted
          var lastP = -1000
          val out = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
          for (p <- ps) {
            if (out.nonEmpty && p <= lastP + k) out.last(1) = p + k - 1
            else out += Array(p, p + k - 1)
            lastP = p
          }
          out.map(a => (id, a(0).toLong, a(1).toLong,
            (a(1) - a(0) + 1).toLong))
      }.toSet
    }

    val rnd2 = new scala.util.Random(41)
    def sent(n: Int): String =
      (0 until n).map(_ => s"v${rnd2.nextInt(40)}").mkString(" ")
    (1 to 3).foreach { round =>
      val shared1 = sent(12) // long planted run: spans must merge
      val shared2 = sent(5)  // exactly one gram wide
      val docs = (0 until 25).map { i =>
        val body = sent(30 + rnd2.nextInt(40))
        val t =
          if (i % 5 == 0) s"$body $shared1 ${sent(6)}"
          else if (i % 7 == 0) s"$shared2 $body"
          else body
        (i.toLong, t)
      }
      val df = docs.toDF("doc_id", "text")
      val got = Dedup.duplicateSpans(df, "doc_id", "text", k = k, minDocs = 2)
        .as[(Long, Long, Long, Long)].collect().toSet
      val want = naiveSpans(docs, 2)
      assert(got == want,
        s"round $round\n missing: ${want.diff(got)}\n extra: ${got.diff(want)}")
      // the planted 12-word run must surface as (part of) one span in
      // every carrier doc
      val carriers = docs.filter(_._2.contains(shared1)).map(_._1).toSet
      assert(carriers.forall(id => got.exists(s => s._1 == id)),
        s"planted run not found for all carriers $carriers: $got")

      // scrub: removed_words == span widths per doc; no dup k-gram from a
      // scrubbed doc survives in the scrubbed corpus
      val spans = Dedup.duplicateSpans(df, "doc_id", "text", k = k, minDocs = 2)
      val scrubbed = Dedup.scrubSpans(df, spans, "doc_id", "text")
        .as[(Long, String, Long)].collect()
      val widthByDoc = want.groupBy(_._1).view
        .mapValues(_.toSeq.map(_._4).sum).toMap
      scrubbed.foreach { case (id, txt, removed) =>
        assert(removed == widthByDoc.getOrElse(id, 0L),
          s"doc $id removed $removed, want ${widthByDoc.getOrElse(id, 0L)}")
        val origToks = "[a-z0-9]+".r.findAllIn(
          docs.find(_._1 == id).get._2.toLowerCase).size
        assert(txt.split(" ").filter(_.nonEmpty).length ==
          origToks - removed)
      }
    }
  }

  test("assignSplit: deterministic, stable under corpus growth, " +
      "thresholds respected") {
    val small = (0 until 1000).map(_.toLong).toDF("doc_id")
    val big = (0 until 2000).map(_.toLong).toDF("doc_id")
    def splits(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      Curation.assignSplit(df, "doc_id")
        .select("doc_id", "split").as[(Long, String)].collect().toMap
    val s1 = splits(small)
    val s2 = splits(big)
    // stability: every doc keeps its split when the corpus doubles
    assert(s1.forall { case (id, sp) => s2(id) == sp })
    // rough proportions at 90/5/5 over 2000 ids
    val byLabel = s2.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byLabel("train") > 1700 && byLabel("train") < 1900, byLabel)
    assert(byLabel("val") > 50 && byLabel("val") < 170, byLabel)
    assert(byLabel("test") > 50 && byLabel("test") < 170, byLabel)
    // bucket column re-derives the label
    val rows = Curation.assignSplit(big, "doc_id")
      .select("split_bucket", "split").as[(Long, String)].collect()
    assert(rows.forall { case (b, sp) =>
      sp == (if (b < 9000) "train" else if (b < 9500) "val" else "test") })
  }

  test("pairDot: unrolled+tail array dot == exact driver dot across " +
      "null elements, length mismatches and the >dims tail; unitVecs " +
      "drops zero/null vectors and matches exploded unit components") {
    // vectors exercising: plain, null element, shorter than dims, longer
    // than dims (tail path), zero-norm (dropped), null vector (dropped)
    val dims = 4
    val vecs: Seq[(Long, Array[java.lang.Double])] = Seq(
      1L -> Array[java.lang.Double](1.0, 2.0, 3.0, 4.0),
      2L -> Array[java.lang.Double](2.0, null, 1.0, 0.5),
      3L -> Array[java.lang.Double](1.0, 1.0),                 // short
      4L -> Array[java.lang.Double](1.0, 0.0, 0.0, 1.0, 2.0, 3.0), // tail
      5L -> Array[java.lang.Double](0.5, 0.5, 0.5, 0.5, 1.5, 2.5), // tail
      9L -> Array[java.lang.Double](0.0, 0.0, 0.0, 0.0))       // zero norm
    val df = vecs.toDF("vec_id", "embedding")
    // unitVecs: zero-norm dropped; components = x / sqrt(sum x^2)
    val uv = Ann.unitVecs(df, "vec_id", "embedding", "nid", "varr")
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    assert(!uv.contains(9L), "zero-norm vector must drop")
    assert(uv.keySet == Set(1L, 2L, 3L, 4L, 5L))
    val naiveUnit: Map[Long, Array[Option[Double]]] = vecs.toMap.map {
      case (id, v) =>
        val n = math.sqrt(v.collect { case x if x != null => x * x }.sum)
        id -> v.map(x => Option(x).map(_.toDouble / n))
    }
    uv.foreach { case (id, arr) =>
      val want = naiveUnit(id)
      assert(arr.size == want.length, s"vec $id length")
      arr.zip(want).foreach { case (got, w) =>
        (Option(got), w) match {
          case (None, None) => ()
          case (Some(g: Double), Some(x)) => assert(g == x, s"vec $id comp")
          case other => fail(s"vec $id: $other")
        }
      }
    }
    // pairDot over every pair vs the exact driver dot (nulls contribute 0)
    val one = df.filter(col("vec_id") =!= 9L)
    val uvDf = Ann.unitVecs(one, "vec_id", "embedding", "nid", "varr")
    val got = uvDf.as("a").join(uvDf.as("b"),
        col("a.nid") < col("b.nid"))
      .select(col("a.nid").as("a_id"), col("b.nid").as("b_id"),
        Ann.pairDot(col("a.varr"), col("b.varr"), dims).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    def naiveDot(a: Array[Option[Double]], b: Array[Option[Double]]): Double =
      a.zipAll(b, None, None).map {
        case (Some(x), Some(y)) => x * y
        case _ => 0.0
      }.sum
    assert(got.size == 10, s"expected all 10 pairs, got ${got.size}")
    got.foreach { case ((a, b), cos) =>
      val want = naiveDot(naiveUnit(a), naiveUnit(b))
      assert(math.abs(cos - want) < 1e-12,
        s"pair ($a,$b): pairDot $cos vs naive $want")
    }
    // the >dims tail really contributed: pair (4,5) overlaps beyond dim 4
    val tailPair = got((4L, 5L))
    val headOnly = naiveDot(naiveUnit(4L).take(dims), naiveUnit(5L).take(dims))
    assert(math.abs(tailPair - headOnly) > 1e-9,
      "fixture must exercise the >dims tail")
  }
}
