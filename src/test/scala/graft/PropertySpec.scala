package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Randomized property checks for the custom code paths (beyond the
  * reference's test strategy — SURVEY §5 notes it uses no
  * property-based testing). Fixed seeds keep every run deterministic.
  */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = GraftSparkSession.spark
  import spark.implicits._

  test("bitmap_jaccard equals set jaccard on random bitmaps") {
    val rnd = new Random(7)
    val cases = Seq.fill(200) {
      val n = 1 + rnd.nextInt(4) // chunks
      val a = Array.fill(n)(rnd.nextLong())
      val b = Array.fill(n)(rnd.nextLong())
      (a.toSeq, b.toSeq)
    }
    val got = cases.toDF("a", "b")
      .select(graft.functions.GraftExpressions.bitmap_jaccard(col("a"), col("b")))
      .as[Double].collect()
    cases.zip(got).foreach { case ((a, b), j) =>
      val inter = a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x & y) }.sum
      val uni = a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x | y) }.sum
      val expect = if (uni == 0) 0.0 else inter.toDouble / uni
      assert(j == expect)
    }
  }

  test("cosine_similarity matches sequential double-precision reference") {
    val rnd = new Random(11)
    val cases = Seq.fill(100) {
      val d = 1 + rnd.nextInt(96)
      (Array.fill(d)(rnd.nextFloat() * 2 - 1).toSeq, Array.fill(d)(rnd.nextFloat() * 2 - 1).toSeq)
    }
    val got = cases.toDF("a", "b")
      .select(graft.functions.GraftExpressions.cosine_sim(col("a"), col("b")))
      .as[Double].collect()
    cases.zip(got).foreach { case ((a, b), c) =>
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.zip(b).foreach { case (x, y) =>
        dot += x.toDouble * y.toDouble; na += x.toDouble * x.toDouble; nb += y.toDouble * y.toDouble
      }
      val expect = if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
      assert(c == expect, s"got $c expect $expect")
    }
  }

  test("minhash signature is token-order invariant and deterministic") {
    val rnd = new Random(13)
    val vocab = (0 until 50).map(i => s"w$i")
    val sets = Seq.fill(50)(rnd.shuffle(vocab).take(1 + rnd.nextInt(20)))
    val sig = (c: Seq[Seq[String]]) => c.toDF("toks")
      .select(graft.functions.GraftExpressions.minhash_signature(col("toks"), 16))
      .as[Seq[Long]].collect().toSeq
    val a = sig(sets)
    val b = sig(sets.map(s => rnd.shuffle(s)))
    assert(a == b, "permuting tokens must not change the signature")
  }

  test("native minhash signature has the banding properties of the composed form") {
    val rnd = new Random(23)
    val vocab = (0 until 60).map(i => s"w$i")
    val sets = Seq.fill(60)(rnd.shuffle(vocab).take(1 + rnd.nextInt(25)))
    def sigs(f: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column) =
      sets.toDF("toks").select(f(col("toks"), 16)).as[Seq[Long]].collect().toSeq
    val native = sigs(graft.functions.GraftExpressions.minhash_signature)
    // identical sets -> identical signatures regardless of token order
    val shuffled = sets.map(s => rnd.shuffle(s))
    val native2 = shuffled.toDF("toks")
      .select(graft.functions.GraftExpressions.minhash_signature(col("toks"), 16))
      .as[Seq[Long]].collect().toSeq
    assert(native == native2)
    // signature agreement rate approximates jaccard (the LSH contract):
    // for each pair, |{j: sig_a(j)==sig_b(j)}|/k should be near jaccard
    val pairs = for (i <- sets.indices; j <- sets.indices if i < j) yield (i, j)
    val errs = pairs.map { case (i, j) =>
      val ja = sets(i).toSet.intersect(sets(j).toSet).size.toDouble /
        sets(i).toSet.union(sets(j).toSet).size
      val agree = native(i).zip(native(j)).count { case (a, b) => a == b } / 16.0
      math.abs(ja - agree)
    }
    // k=16 => stderr ~ sqrt(j(1-j)/16) <= 0.125; mean error well below
    assert(errs.sum / errs.size < 0.15, f"mean |jaccard - agreement| = ${errs.sum / errs.size}%.3f")
  }

  test("simhash: identical token sets collide, disjoint sets differ") {
    val toks = (0 until 30).map(i => s"tok$i")
    val df = Seq(toks, toks.reverse, toks.map(_ + "X")).toDF("t")
      .select(graft.functions.GraftExpressions.simhash64(col("t"))).as[Long].collect()
    assert(df(0) == df(1), "order must not matter")
    assert(df(0) != df(2), "disjoint vocab should (overwhelmingly) differ")
  }

  test("custom as-of join agrees with a driver-side reference on random data") {
    val rnd = new Random(17)
    val left = Seq.fill(300)((rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong))
    val right = Seq.fill(200)((rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, rnd.nextDouble()))
    val lDf = left.toDF("k", "t")
    val rDf = right.toDF("rk", "rt", "v")
    for (fwd <- Seq(false, true)) {
      val dirn = if (fwd) "forward" else "backward"
      val got = graft.plans.AsOfJoinApi.asofJoin(lDf, rDf, Seq("k"), Seq("rk"), "t", "rt",
          direction = dirn)
        .select(col("k"), col("t"), col("rt"))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .groupBy(x => (x._1, x._2)).view.mapValues(_.map(_._3).toSet).toMap
      val expect = left.map { case (k, t) =>
        val candidates = right.filter(_._1 == k)
        val m = if (fwd) {
          val after = candidates.filter(_._2 >= t)
          if (after.isEmpty) None else Some(after.map(_._2).min)
        } else {
          val before = candidates.filter(_._2 <= t)
          if (before.isEmpty) None else Some(before.map(_._2).max)
        }
        ((k, t), m)
      }.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      assert(got == expect, s"direction=$dirn mismatch")
    }
  }

  test("simhash pipeline recall floor: every exact-duplicate pair is found") {
    // pigeonhole: identical word sets hash to identical signatures, so
    // all 4 bands collide and hamming = 0 ≤ 8 — the banded pipeline can
    // NEVER miss an exact duplicate. This is the quantitative floor for
    // the rows-only dedup_simhash entry (its hash family is
    // engine-specific, so DuckDB can't oracle the values themselves).
    val dir = GraftSparkSession.sfDir
    // group on the signature's actual input: the distinct word set
    val exactPairs = graft.Tables.load(spark, dir, "documents")
      .groupBy(sort_array(array_distinct(split(col("text"), " "))).as("ws"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .collect().flatMap { r =>
        val ids = r.getSeq[Long](1).sorted
        for (i <- ids.indices; j <- (i + 1) until ids.size) yield (ids(i), ids(j))
      }.toSet
    val simPairs = graft.operators.DedupOps.rawPairs("dedup_simhash")(spark, dir)
      .select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactPairs.nonEmpty, "fixture must contain identical-word-set pairs")
    val missed = exactPairs -- simPairs
    assert(missed.isEmpty,
      s"simhash pipeline missed ${missed.size} exact-duplicate pairs: ${missed.take(5)}")
  }

  test("leakage-safe split: no near-dup pair straddles two splits") {
    // the split is a pure function of the cluster representative, so
    // every LSH near-dup pair must land in one split — assert it on the
    // pair graph end-to-end (not just by construction)
    val dir = GraftSparkSession.sfDir
    val pairs = SparkEntry.queries("dedup_minhash_lsh")(spark, dir)
      .select(col("doc_a"), col("doc_b"))
    val docs = graft.Tables.load(spark, dir, "documents").select(col("doc_id"))
    val labels = graft.operators.DedupOps.labelsForSpec(spark, dir, docs)
    val h = substring(md5(col("label").cast("string")), 1, 1)
    val assigned = labels.withColumn(
      "split", when(h <= "b", "train").when(h <= "d", "val").otherwise("test"))
    val straddlers = pairs
      .join(assigned.select(col("doc_id").as("doc_a"), col("split").as("sa")), Seq("doc_a"))
      .join(assigned.select(col("doc_id").as("doc_b"), col("split").as("sb")), Seq("doc_b"))
      .filter(col("sa") =!= col("sb"))
      .count()
    assert(straddlers == 0, s"$straddlers near-dup pairs straddle splits")
    // and the split is non-degenerate on the fixture
    val splits = assigned.select(col("split")).distinct().collect().map(_.getString(0)).toSet
    assert(splits == Set("train", "val", "test"), s"degenerate split: $splits")
  }

  test("embedding LSH near-dup: perfect precision, pinned recall floor vs exact pairs") {
    val dir = GraftSparkSession.sfDir
    def pairSet(name: String): Set[(Long, Long)] =
      (if (name == "dedup_embedding_lsh")
         graft.operators.DedupOps.rawPairs(name)(spark, dir)
       else SparkEntry.queries(name)(spark, dir))
        .select(col("id_a"), col("id_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet("dedup_embedding")
    val old = spark.conf.getOption(GraftConf.SimLshBits.key)
    // 4-bit operating point (matches the ANN gates: this corpus has weak
    // angular structure, 8-bit buckets are near-empty)
    spark.conf.set(GraftConf.SimLshBits.key, "4")
    try {
      val approx = pairSet("dedup_embedding_lsh")
      // every emitted pair passed the same exact verify → precision = 1
      assert(approx.subsetOf(exact),
        s"LSH emitted ${(approx -- exact).take(3)} not in the exact pair set")
      val recall = if (exact.isEmpty) 1.0 else approx.count(exact).toDouble / exact.size
      info(f"dedup_embedding_lsh recall = $recall%.3f over ${exact.size} exact pairs")
      assert(recall >= 0.50, f"embedding LSH recall regressed: $recall%.3f")
    } finally old match {
      case Some(v) => spark.conf.set(GraftConf.SimLshBits.key, v)
      case None => spark.conf.unset(GraftConf.SimLshBits.key)
    }
  }

  test("greedy tokenizer reconstructs every word exactly and stays in-vocab") {
    // total-coverage contract of text_greedy_tokenize: concatenating the
    // emitted tokens reproduces the word byte-for-byte, and every
    // multi-char token is an actual vocab unit (single chars are the
    // declared fallback). A vocab/priority regression breaks one of the
    // two immediately.
    val rows = operators.TextOps.queries("text_greedy_tokenize")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val vocab = Set("value", "query", "table", "scan", "hash", "part",
      "join", "row", "agg", "er", "an", "in", "le", "ta", "sc", "va")
    rows.foreach { r =>
      val word = r.getString(0)
      val toks = r.getString(2).split('|').filter(_.nonEmpty)
      assert(toks.mkString == word, s"tokens ${toks.toSeq} != word '$word'")
      assert(r.getInt(1) == toks.length)
      toks.filter(_.length > 1).foreach(t =>
        assert(vocab(t), s"non-vocab multi-char token '$t' in '$word'"))
    }
  }

  test("merged complete-mode aggregate equals two-phase on random groupings") {
    val rnd = new Random(19)
    val data = Seq.fill(2000)((rnd.nextInt(40).toLong, rnd.nextInt(1000), rnd.nextDouble()))
    spark.sql("DROP TABLE IF EXISTS prop_bucketed")
    data.toDF("k", "a", "b").write.bucketBy(4, "k").saveAsTable("prop_bucketed")
    try {
      def run() = spark.table("prop_bucketed").groupBy("k")
        .agg(count(lit(1)), sum("a"), avg("b"), max("a"), min("b"))
        .orderBy("k").collect().toSeq
      val fused = run()
      spark.conf.set("spark.graft.mergeTwoPhaseAgg.enabled", "false")
      val plain = try run() finally spark.conf.unset("spark.graft.mergeTwoPhaseAgg.enabled")
      assert(fused == plain)
    } finally spark.sql("DROP TABLE prop_bucketed")
  }

  test("large-star/small-star CC equals driver union-find on random graphs") {
    val rnd = new Random(23)
    // shapes that stress different round counts: sparse random graphs
    // (many small components), a long path (max diameter), near-cliques
    // (the dedup regime), and a star colliding with a chain
    val shapes: Seq[Seq[(Long, Long)]] = Seq(
      Seq.fill(300)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong)),
      (0L until 63L).map(i => (i, i + 1)),
      (for (c <- 0 until 5; i <- 0 until 12; j <- i + 1 until 12)
        yield ((c * 100 + i).toLong, (c * 100 + j).toLong)),
      (1L to 40L).map(i => (0L, i)) ++ (40L until 80L).map(i => (i, i + 1)))
    for (edges <- shapes) {
      val nodes = (edges.flatMap(e => Seq(e._1, e._2)).distinct ++
        Seq(9999L)).distinct // 9999 = a guaranteed singleton
      // driver-side union-find reference
      val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
      def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = nodes.map(n => n -> find(find(n))).toMap
        .map { case (n, r) => n -> nodes.filter(m => find(m) == r).min }
      // both directions: the initial edge set holds every edge twice,
      // and on each shape here a star round brings it to at most `mid`
      // edges, so a `mid` bound fires the driver finish after one or
      // more rounds (the job counts below check that it did)
      val pairs = (edges ++ edges.map(_.swap)).toDF("doc_a", "doc_b").localCheckpoint()
      val docs = nodes.toDF("doc_id")
      val mid = edges.map { case (a, b) => (a max b, a min b) }.filter(e => e._1 != e._2)
        .distinct.size.toLong
      def labels(bound: Long): (Map[Long, Long], Int) = {
        val (got, jobs) = PlanHealth.traced(spark) {
          operators.DedupOps.propagateMinLabels(pairs, docs, localFinishMaxEdges = bound)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        }
        (got, jobs.jobs)
      }
      // star rounds only; the driver finish at once; the finish after
      // some rounds, which runs more jobs than the first and fewer than
      // the second
      val (stars, starJobs) = labels(0L)
      val (atOnce, onceJobs) = labels(operators.DedupOps.LocalFinishMaxEdges)
      val (afterRounds, midJobs) = labels(mid)
      for ((path, got) <- Seq("star rounds" -> stars, "driver finish" -> atOnce,
          s"finish at $mid edges" -> afterRounds))
        assert(got == expect, s"$path: CC labels diverge on a ${edges.size}-edge graph")
      assert(onceJobs < midJobs && midJobs < starJobs,
        s"jobs: finish at once $onceJobs, at $mid edges $midJobs, star rounds only $starJobs")
    }
  }
}
