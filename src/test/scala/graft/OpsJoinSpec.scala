package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ops.{AsOfJoin, ConnectedComponents, RangeJoin}

/** Semantics + plan shape of the custom join operators (as-of join,
  * range join) — the two relational ops Spark lacks natively,
  * re-expressed as window/equi-join rewrites. */
class OpsJoinSpec extends SparkSpecBase {

  private def ts(sec: Long) = new Timestamp(sec * 1000)

  test("asOf: <= match, latest wins, equal-ts ties, null when no prior row") {
    import spark.implicits._
    val left = Seq( // (id, key, ts)
      (1L, "a", ts(100)),
      (2L, "a", ts(50)), // before every right row -> null match
      (3L, "a", ts(60)), // exactly AT a right ts -> <= matches it
      (4L, "b", ts(100)) // other key: isolated
    ).toDF("id", "k", "t")
    val right = Seq( // (key, ts, payload)
      ("a", ts(60), 600L),
      ("a", ts(60), 601L), // equal-ts tie -> largest payload wins
      ("a", ts(90), 900L),
      ("b", ts(10), 111L)
    ).toDF("k", "t", "v")

    val out = AsOfJoin.asOf(left, right, key = "k", leftTs = "t",
        rightTs = "t", carry = Seq("v"))
      .select(col("id"), col("asof.v").as("v"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(out == Map(1L -> 900L, 2L -> -1L, 3L -> 601L, 4L -> 111L))
  }

  test("asOf directions + tolerance match a brute-force oracle (incl. ties)") {
    import spark.implicits._
    // deterministic pseudo-random data with DELIBERATE collisions:
    // i*37%100 / j*53%100 produce repeated timestamps within keys, so
    // equal-ts and equal-gap tie rules are genuinely exercised
    val lrows = (1 to 120).map(i => (i.toLong, s"k${i % 4}", (i * 37 % 100).toLong))
    val rrows = (1 to 80).map(j => (s"k${j % 4}", (j * 53 % 100).toLong, j.toLong))
    val left = lrows.map { case (id, k, s) => (id, k, ts(s)) }.toDF("id", "k", "t")
    val right = rrows.map { case (k, s, v) => (k, ts(s), v) }.toDF("k", "t", "v")

    def brute(dir: String, tol: Option[Double],
        exact: Boolean = true): Map[Long, Long] =
      lrows.map { case (id, k, lt) =>
        val cands = rrows.filter(_._1 == k)
        // tie rules mirror the operator: equal ts → largest payload
        // struct (ts, v); nearest equal gap → backward
        val back = cands.filter(c => if (exact) c._2 <= lt else c._2 < lt)
          .sortBy(c => (c._2, c._3)).lastOption
        val fwd = cands.filter(c => if (exact) c._2 >= lt else c._2 > lt)
          .sortBy(c => (-c._2, c._3)).lastOption
        val pick = dir match {
          case "backward" => back
          case "forward"  => fwd
          case "nearest" => (back, fwd) match {
            case (Some(b), Some(f)) =>
              if (lt - b._2 <= f._2 - lt) Some(b) else Some(f)
            case (b, f) => b.orElse(f)
          }
        }
        val bounded = pick.filter(c => tol.forall(t => math.abs(c._2 - lt) <= t))
        id -> bounded.map(_._3).getOrElse(-1L)
      }.toMap

    for (dir <- Seq("backward", "forward", "nearest");
         tol <- Seq(None, Some(7.0))) {
      val got = AsOfJoin.asOf(left, right, "k", "t", "t", Seq("v"),
          direction = dir, toleranceSecs = tol)
        .select(col("id"), col("asof.v"))
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toMap
      assert(got == brute(dir, tol), s"direction=$dir tolerance=$tol")
    }

    // strict boundary (allowExactMatches = false): equal-ts rights are
    // excluded — the colliding timestamps above make this bite
    for (dir <- Seq("backward", "forward", "nearest")) {
      val got = AsOfJoin.asOf(left, right, "k", "t", "t", Seq("v"),
          direction = dir, allowExactMatches = false)
        .select(col("id"), col("asof.v"))
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toMap
      val want = brute(dir, None, exact = false)
      assert(got == want, s"strict direction=$dir")
      assert(got != brute(dir, None), s"strict $dir did not differ — data has no equal-ts pair?")
    }
  }

  test("asOf forward/nearest keep the one-exchange zero-join plan") {
    import spark.implicits._
    val left = (1 to 60).map(i => (i.toLong, s"k${i % 5}", ts(i.toLong))).toDF("id", "k", "t")
    val right = (1 to 30).map(i => (s"k${i % 5}", ts(i.toLong * 2), i.toLong)).toDF("k", "t", "v")
    Seq("forward", "nearest").foreach { dir =>
      val df = AsOfJoin.asOf(left, right, "k", "t", "t", Seq("v"), direction = dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString.split("Initial Plan")(0)
      assert(!plan.contains("Join"), s"$dir joins:\n$plan")
      assert(plan.split("Exchange").length - 1 == 1, s"$dir shuffles more than once:\n$plan")
    }
  }

  test("asOf plan: one exchange (the window), zero joins") {
    import spark.implicits._
    val left = (1 to 100).map(i => (i.toLong, s"k${i % 5}", ts(i.toLong))).toDF("id", "k", "t")
    val right = (1 to 50).map(i => (s"k${i % 5}", ts(i.toLong * 2), i.toLong)).toDF("k", "t", "v")
    val df = AsOfJoin.asOf(left, right, "k", "t", "t", Seq("v"))
    df.collect()
    // AQE's toString appends the pre-adaptive "Initial Plan" — count
    // operators in the final plan only
    val plan = df.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    assert(!plan.contains("Join"), s"asOf joins:\n$plan")
    assert(plan.split("Exchange").length - 1 == 1, s"asOf shuffles more than once:\n$plan")
  }

  test("connectedComponents: chain, triangle, singletons — min label per component") {
    import spark.implicits._
    // a 5-chain (diameter 4 → exercises several propagation rounds),
    // a triangle with duplicate/reversed edges, two isolated vertices
    val vertices = (1L to 10L).toDF("v")
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (7L, 8L), (9L, 8L), (7L, 9L), (8L, 7L)).toDF("a", "b")
    val got = ConnectedComponents.run(vertices, "v", edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 6L, 7L -> 7L, 8L -> 7L, 9L -> 7L, 10L -> 10L))

    // edges touching vertices OUTSIDE the given set are ignored — no
    // phantom nodes in the output, no phantom canonical labels
    val phantomEdges = edges.unionByName(Seq((2L, 99L), (98L, 97L)).toDF("a", "b"))
    val got2 = ConnectedComponents.run(vertices, "v", phantomEdges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == got)

    // a component needing more rounds than maxIter THROWS instead of
    // silently returning split clusters (contraction off: the pre-pass
    // would legitimately collapse this single-partition-sized chain
    // below the bound, which is the point of having it)
    val chain = (1L to 9L).map(i => (i, i + 1)).toDF("a", "b")
    val chainV = (1L to 10L).toDF("v")
    intercept[IllegalStateException] {
      ConnectedComponents.run(chainV, "v", chain, "a", "b", maxIter = 3,
        localContract = false).collect()
    }
    assert(ConnectedComponents.run(chainV, "v", chain, "a", "b", maxIter = 12)
      .collect().forall(_.getLong(1) == 1L))
  }

  test("string vertex ids run the long-remap loop and decode exactly") {
    import spark.implicits._
    // same chain + triangle + singleton topology as the long-id test,
    // but string-keyed — exercises the order-preserving dense-id remap
    // (sort + zipWithIndex) and the exit decode joins end-to-end
    val f = (i: Int) => f"v_$i%03d"
    val vertices = (1 to 10).map(f).toDF("v")
    val edges = Seq((1, 2), (2, 3), (3, 4), (4, 5), (7, 8), (9, 8), (7, 9), (8, 7))
      .map { case (a, b) => (f(a), f(b)) }.toDF("a", "b")
    val got = ConnectedComponents.run(vertices, "v", edges, "a", "b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map(
      f(1) -> f(1), f(2) -> f(1), f(3) -> f(1), f(4) -> f(1), f(5) -> f(1),
      f(6) -> f(6), f(7) -> f(7), f(8) -> f(7), f(9) -> f(7), f(10) -> f(10)))

    // fixed-width ids take the PROVEN numeric-suffix codec (narrow
    // substring/lpad remap); variable-width ids must fall back to the
    // generic ranking remap — the min label is then LEXICOGRAPHIC
    // ("v_100" < "v_7"), so a wrong codec accept (numeric order)
    // would flip this component's canonical label and fail here.
    val g = (i: Int) => s"v_$i"
    val vertices2 = ((1 to 10) :+ 100).map(g).toDF("v")
    val edges2 = (Seq((1, 2), (2, 3), (3, 4), (4, 5), (7, 8), (9, 8), (9, 100))
      .map { case (a, b) => (g(a), g(b)) }).toDF("a", "b")
    val got2 = ConnectedComponents.run(vertices2, "v", edges2, "a", "b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got2 == Map(
      g(1) -> g(1), g(2) -> g(1), g(3) -> g(1), g(4) -> g(1), g(5) -> g(1),
      g(6) -> g(6), g(7) -> g(100), g(8) -> g(100), g(9) -> g(100),
      g(10) -> g(10), g(100) -> g(100)))
  }

  test("connectedComponents: string ids label by UTF-8 byte order on every path") {
    import spark.implicits._
    // pure-alpha ids (no codec, so the rank encoding): U+FFFF (EF BF BF)
    // sorts BEFORE U+10000 (F0 90 80 80) by UTF-8 bytes, as Spark's
    // min/orderBy and DuckDB compare strings, but AFTER it by Java's
    // UTF-16 compareTo (surrogate \uD800 < \uFFFF)
    val (a, b) = ("\uFFFF", "\uD800\uDC00")
    val vertices = Seq(a, b).toDF("v")
    val edges = Seq(b -> a).toDF("s", "d")
    for ((contract, solve) <- Seq((true, 8000000L), (false, 8000000L), (true, 0L))) {
      val got = ConnectedComponents.run(vertices, "v", edges, "s", "d",
          localContract = contract, localSolveMax = solve)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got == Map(a -> a, b -> a),
        s"localContract=$contract localSolveMax=$solve")
    }
  }

  test("connectedComponents: Int ids keep IntegerType and label by component minimum") {
    import spark.implicits._
    import org.apache.spark.sql.types.IntegerType
    val vertices = (1 to 10).toDF("v")
    val edges = Seq((5, 4), (4, 3), (3, 2), (9, 7), (8, 9)).toDF("a", "b")
    for ((contract, solve) <- Seq((true, 8000000L), (false, 8000000L), (true, 0L))) {
      val out = ConnectedComponents.run(vertices, "v", edges, "a", "b",
        localContract = contract, localSolveMax = solve)
      assert(out.schema.map(_.dataType) == Seq(IntegerType, IntegerType))
      val got = out.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      assert(got == Map(1 -> 1, 2 -> 2, 3 -> 2, 4 -> 2, 5 -> 2,
        6 -> 6, 7 -> 7, 8 -> 7, 9 -> 7, 10 -> 10),
        s"localContract=$contract localSolveMax=$solve")
    }
  }

  // maxIter = 0 proves the path taken: the driver solve ignores it,
  // the label loop would throw
  private val alphaChain = Seq("va" -> "vb", "vb" -> "vc", "vc" -> "vd")

  test("connectedComponents: a string quotient driver-solves") {
    import spark.implicits._
    val verts = (alphaChain.flatMap(e => Seq(e._1, e._2)).distinct :+ "vz").toDF("id")
    val edges = alphaChain.toDF("s", "d")
    val out = ConnectedComponents.run(verts, "id", edges, "s", "d",
      maxIter = 0, localSolveMax = 8000000L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("va" -> "va", "vb" -> "va", "vc" -> "va",
      "vd" -> "va", "vz" -> "vz"))
  }

  test("connectedComponents: a long-keyed graph with localSolveMax = 7 driver-solves") {
    import spark.implicits._
    val verts = Seq(1L, 2L, 3L, 4L, 9L).toDF("id")
    val edges = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L).toDF("s", "d")
    val out = ConnectedComponents.run(verts, "id", edges, "s", "d",
      maxIter = 0, localSolveMax = 7L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 9L -> 9L))
  }

  test("connectedComponents: the label loop leaves the caller's session adaptive") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    // a 40-chain scattered over 8 partitions: contraction leaves a
    // chain-shaped quotient, so the loop (localSolveMax = 0) runs
    // several rounds
    val edges = (1L to 39L).map(i => (i, i + 1)).toDF("a", "b").repartition(8)
    val vertices = (1L to 40L).toDF("v")
    val sentinel = Seq(1).toDF("sentinel")
    spark.listenerManager.register(listener)
    try {
      val got = ConnectedComponents.run(vertices, "v", edges, "a", "b",
        localSolveMax = 0L).collect()
      assert(got.length == 40 && got.forall(_.getLong(1) == 1L))
      // listener events arrive in order on one queue: once the
      // sentinel's is in, every earlier one is too
      sentinel.collect()
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.asScala.exists(_ eq sentinel.queryExecution) &&
          System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    val (own, other) = seen.asScala.toSeq.partition(_.sparkSession eq spark)
    assert(own.exists(_ eq sentinel.queryExecution), "sentinel event never arrived")
    // an adaptive plan's root is a leaf (AdaptiveSparkPlanExec), so an
    // Exchange visible in the executed tree means AQE was off
    val nonAdaptive = own.filter(_.executedPlan.find(_.isInstanceOf[Exchange]).isDefined)
    assert(nonAdaptive.isEmpty,
      s"non-adaptive plans on the caller's session:\n${nonAdaptive.map(_.executedPlan).mkString("\n")}")
    assert(other.nonEmpty, "the label loop ran on the caller's session")
  }

  test("numeric-suffix codec: accepts only provably fixed-shape ids") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    def codec(ids: Seq[String]): Option[_] =
      ConnectedComponents.numericSuffixCodec(ids.toDF("node"))
    assert(codec(Seq("doc_001", "doc_999", "doc_042")).isDefined)
    assert(codec(Seq("001", "999")).isDefined) // empty prefix is legal
    assert(codec(Seq("doc_1", "doc_22")).isEmpty)   // width varies
    assert(codec(Seq("doc_01", "dog_02")).isEmpty)  // prefix varies
    assert(codec(Seq("doc_01", "doc_xx")).isEmpty)  // no digit suffix
    assert(codec(Seq.empty[String]).isEmpty)        // empty set
    // >18-digit suffixes: the codec hashes at most the LAST 18 digits;
    // constant overflow digits fold into the proven prefix (legal),
    // varying overflow digits break prefix equality (rejected)
    assert(codec(Seq("a0000000000000000000001",
                     "a0000000000000000000002")).isDefined)
    assert(codec(Seq("a1000000000000000000001",
                     "a2000000000000000000002")).isEmpty)
    // round-trip on an accepted shape: encode is order-preserving and
    // decode inverts it exactly
    val ids = Seq("doc_093", "doc_007", "doc_500")
    val Some((enc, dec)) = ConnectedComponents.numericSuffixCodec(ids.toDF("node"))
      .asInstanceOf[Option[(org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                            org.apache.spark.sql.Column => org.apache.spark.sql.Column)]]
    val rt = ids.toDF("node")
      .select(col("node"), enc(col("node")).as("e"))
      .select(col("node"), col("e"), dec(col("e")).as("d"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(rt.forall { case (n, _, d) => n == d })
    assert(rt.sortBy(_._1).map(_._2).sameElements(rt.map(_._2).sorted))
  }

  test("local contraction preserves components exactly on a random graph") {
    import spark.implicits._
    // pseudo-random sparse graph over 400 vertices: rings + random
    // chords + self-loops + duplicate and reversed edges, spread over
    // many partitions so contraction sees fragments of components
    val rnd = new scala.util.Random(1234)
    val edges = ((0L until 390L).map(i => (i, i + rnd.nextInt(3) + 1)) ++
      (0 until 150).map(_ => (rnd.nextInt(400).toLong, rnd.nextInt(400).toLong)))
      .toDF("a", "b").repartition(17)
    val vertices = (0L until 400L).toDF("v")
    def labels(contract: Boolean) =
      ConnectedComponents.run(vertices, "v", edges, "a", "b",
          localContract = contract)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(true) == labels(false))

    // the contraction emits symmetric star edges toward partition
    // minima and never self-edges; per partition the output is bounded
    // by 2× its distinct endpoints (a vertex fragmented across
    // partitions emits one star edge per fragment, so the GLOBAL count
    // can exceed the input on adversarially scattered graphs — the
    // shrinkage claim belongs to co-located layouts, below)
    val oriented = edges.select(col("a").as("src"), col("b").as("dst"))
    val contracted = ConnectedComponents.contractLocal(oriented)
    assert(contracted.filter(col("src") === col("dst")).count() == 0)

    // on the layout the operator actually feeds it (edges co-located
    // by hub — LSH buckets land together), whole stars collapse and
    // the deduped output is strictly smaller than the symmetrized
    // input: 40 hubs × 50 members in 8 partitions
    val stars = (0 until 2000).map(i => ((i % 40).toLong, 1000L + i))
      .toDF("src", "dst").repartition(8, col("src"))
    val cs = ConnectedComponents.contractLocal(stars).distinct().count()
    val ss = stars.unionByName(
      stars.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().count()
    assert(cs <= ss, s"contracted $cs > symmetrized $ss on hub-clustered input")
  }

  test("multi-pass contraction and the driver solve leave labels identical") {
    import spark.implicits._
    // the same adversarial random graph shape as the contraction spec:
    // rings + chords + dup/reversed edges across many partitions, so
    // pass 2's endpoint re-shuffle genuinely merges cross-partition
    // fragments, and deep chains force several label rounds
    val rnd = new scala.util.Random(4321)
    val edges = ((0L until 390L).map(i => (i, i + rnd.nextInt(3) + 1)) ++
      (0 until 150).map(_ => (rnd.nextInt(400).toLong, rnd.nextInt(400).toLong)))
      .toDF("a", "b").repartition(17)
    val vertices = (0L until 400L).toDF("v")
    val base = ConnectedComponents.run(vertices, "v", edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // localSolveMax = 0 forces the distributed label loop; the default
    // takes the driver union-find over the same quotient — labels must
    // agree bit-for-bit across every configuration
    for ((passes, solve) <- Seq((2, 0L), (3, 0L), (1, 0L), (2, 2000000L))) {
      val got = ConnectedComponents.run(vertices, "v", edges, "a", "b",
          contractPasses = passes, localSolveMax = solve)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == base,
        s"labels diverged at passes=$passes localSolveMax=$solve")
    }
  }

  test("LSH star edges span exactly the same components as all-pairs edges") {
    import spark.implicits._
    import graft.dedup.MinHashLsh
    // 7 near-dup families sharing text → same signatures → same buckets
    val docs = (1 to 60).map { i =>
      val fam = i % 7
      (i.toLong, s"familie $fam gemeinsamer text korpus " + ("wort " * (fam + 3)))
    }.toDF("doc_id", "text")
    val sig = MinHashLsh.xxhashSignature(docs, "doc_id", "text", 8)
    def components(edges: org.apache.spark.sql.DataFrame) =
      ConnectedComponents.run(docs.select(col("doc_id")), "doc_id",
          edges.select(col("d1"), col("d2")), "d1", "d2")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = MinHashLsh.bandPairs(sig, 8, 2,
      (a, b) => xxhash64(a, b), maxBucket = 0)
    val stars = MinHashLsh.bandStarEdges(sig, 8, 2, (a, b) => xxhash64(a, b))
    val byPairs = components(pairs)
    val byStars = components(stars)
    assert(byPairs == byStars)
    assert(byPairs.values.toSet.size < 60, "families never merged — degenerate corpus")
    // the point of the star form: linear, never larger than all-pairs
    assert(stars.count() <= pairs.count())
    spark.catalog.clearCache()
  }

  test("rangeJoin: containment exact on half-open boundaries, multi-bin intervals") {
    import spark.implicits._
    val points = Seq((1L, 0.0), (2L, 9.99), (3L, 10.0), (4L, 25.0), (5L, 29.99),
      (6L, 30.0), (7L, 55.0)).toDF("pid", "pos")
    // [10, 30): spans bins 1-2 at width 10; [0, 10): one bin; [20, 56): 4 bins
    val ivs = Seq((10, 10.0, 30.0), (20, 0.0, 10.0), (30, 20.0, 56.0)).toDF("iid", "s", "e")
    val got = RangeJoin.pointInInterval(points, "pos", ivs, "s", "e", binWidth = 10.0)
      .select(col("pid"), col("iid")).collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val brute = (for {
      (pid, pos) <- Seq((1L, 0.0), (2L, 9.99), (3L, 10.0), (4L, 25.0), (5L, 29.99),
        (6L, 30.0), (7L, 55.0))
      (iid, s, e) <- Seq((10, 10.0, 30.0), (20, 0.0, 10.0), (30, 20.0, 56.0))
      if pos >= s && pos < e
    } yield (pid, iid)).toSet
    assert(got == brute)
    // each matching pair appears exactly once (a point is in ONE bin)
    val n = RangeJoin.pointInInterval(points, "pos", ivs, "s", "e", 10.0).count()
    assert(n == brute.size)
  }

  test("rangeJoin plan: equi-join on the bin (hash/broadcast), never a nested loop") {
    import spark.implicits._
    val points = spark.range(1000).select(col("id").as("pid"), (col("id") % 500).cast("double").as("pos"))
    val ivs = spark.range(20).select(col("id").as("iid"),
      (col("id") * 25).cast("double").as("s"), (col("id") * 25 + 40).cast("double").as("e"))
    val df = RangeJoin.pointInInterval(points, "pos", broadcast(ivs), "s", "e", 25.0)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no hash join on the bin:\n$plan")
    assert(!plan.contains("NestedLoop"), s"nested loop leaked in:\n$plan")
  }
}
