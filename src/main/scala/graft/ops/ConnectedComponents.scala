package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Distributed connected components over an undirected edge list —
  * the step that turns near-dup candidate PAIRS (minhash-LSH banding,
  * [[graft.dedup.MinHashLsh]]) into dedup CLUSTERS with a canonical
  * survivor per component, which is what a training-data pipeline
  * actually keeps.
  *
  * Keys: every vertex id is encoded ONCE, on entry, to an
  * order-preserving dense `long`, so contraction, driver solve and
  * label loop all run on primitive longs with one union-find
  * ([[LongUnionFind]]), and labels decode back to the caller's type on
  * exit. Integral ids (byte/short/int/long) are cast; fixed-shape
  * strings take the [[numericSuffixCodec]] (narrow projections); every
  * other type is ranked (`orderBy` + `zipWithIndex` over the gated
  * endpoints — the GraphX vertex-id design — two remap joins in, two
  * decode joins out). Encoding order is Spark's own ordering of the
  * type (strings by UTF-8 bytes, as Spark's `min`/`orderBy` and DuckDB
  * compare them), so `lbl` is the component minimum in that order on
  * every path.
  *
  * Algorithm: min-label propagation WITH POINTER JUMPING (the
  * hash-to-min family — Rastogi et al., "Finding Connected Components
  * in Map-Reduce in Logarithmic Rounds"). Every vertex starts labeled
  * with itself; each round a vertex takes the min over its own label,
  * its neighbors' labels (1-hop spread), and its LABEL'S label (the
  * pull half of pointer doubling), and PUSHES its improved label back
  * to the vertex it pointed at last round (the push half — without
  * it, mins cross between pointer-chain basins only via neighbor
  * edges at one hop per round; measured 17 rounds vs 11 at 2M docs).
  * Per round: two shuffle joins + one map-side-combined aggregate
  * over two narrow columns; stop at fixpoint.
  *
  * The jump is not optional at scale: star-edge candidate graphs
  * ([[graft.dedup.MinHashLsh.bandStarEdges]]) replace intra-bucket
  * cliques with hub stars, and overlapping buckets CHAIN those stars —
  * the 2M-doc bench corpus builds components whose min-vertex
  * eccentricity exceeds 20, where plain 1-hop propagation (this
  * operator's first version) blew through its round budget. One jump
  * per round (classic pointer doubling): measured at 2M docs, deeper
  * chases converge in at most one round fewer (10 vs 11) while each
  * extra composition adds a join stage to EVERY round — depth 1 was
  * 23% faster end-to-end than depth 4; no chase does not converge. If
  * the graph still does not converge within `maxIter`, run() THROWS
  * rather than silently returning split components (a dedup pipeline
  * acting on split clusters would keep duplicates).
  *
  * Storage discipline: every round is truncated with a
  * `localCheckpoint` (persist()-based loops are fragile — downstream
  * re-references can miss cache substitution and replay the full edge
  * lineage). The per-round checkpoint is marked LAZILY and
  * materialized by the fixpoint probe's count, so a round costs one
  * driver-synchronized job, not two — the driver sync is the serial
  * fraction that caps multi-executor scaling of iterative stages. The
  * fixpoint is probed every round (probing every 2nd round measured
  * net-negative at 8M docs on 4×4 executors: 112.9 s vs 101.6 s — the
  * overshoot round costs more join work than the saved sync). The
  * PREVIOUS round's block is freed as soon as the next one is
  * materialized ([[Bridge.freeLocalCheckpoint]] — plain
  * `unpersist()` cannot release checkpoint storage). The returned
  * labels keep only the final round's block — after forcing (or
  * persisting) the result, callers that loop (benchmarks, repeated
  * dedup passes) should release that block too with
  * `Bridge.freeLocalCheckpoint(result)`; it walks the derived plan
  * and unpersists the backing RDD.
  */
object ConnectedComponents {

  /** @param vertices one row per vertex (isolated vertices become
    *                 singleton components). Defines the vertex set:
    *                 edges with an endpoint OUTSIDE it are ignored
    *                 (components are computed among `vertices` only),
    *                 at the one-time cost of two endpoint semi-joins.
    * @param vCol     vertex id column in `vertices`
    * @param edges    undirected edge list (any orientation, dups ok)
    * @param srcCol   edge endpoint column
    * @param dstCol   edge endpoint column
    * @param maxIter  round bound; exceeding it throws (see above)
    * @param localContract run a partition-local union-find contraction
    *                  over the edge list before the iterative loop
    *                  (one narrow mapPartitions, no shuffle): each
    *                  partition's edges collapse to stars on the
    *                  partition-local component minimum. Connectivity
    *                  is preserved exactly — every original edge is
    *                  witnessed by the two star edges of its
    *                  partition — while intra-partition chains (LSH
    *                  buckets that land together) drop to diameter 2,
    *                  so the global loop starts from a FAR shallower
    *                  graph. Rounds are the serial axis of this
    *                  operator (each costs one driver-synchronized
    *                  job), and the per-round checkpoint traffic is
    *                  what saturates shared storage bandwidth at the
    *                  larger cluster size — the pre-pass attacks both.
    *                  `false` runs the uncontracted loop over the full
    *                  edge table (the reference path).
    * @param contractPasses number of contraction passes (requires
    *                  `localContract`). Passes after the first
    *                  re-shuffle the star edges BY ENDPOINT
    *                  (`repartition(src)`) and contract again: stars
    *                  sharing any member now sit in one partition and
    *                  merge, so cross-partition chains collapse
    *                  geometrically — the alternating
    *                  shuffle-then-local-union scheme of the
    *                  MapReduce-CC literature (Kiveris et al.,
    *                  "Connected Components in MapReduce and Beyond":
    *                  alternating star operations). Each extra pass
    *                  costs ONE exchange of the (already contracted)
    *                  edge table + a narrow pass — far cheaper than
    *                  the label-loop rounds it removes, each of which
    *                  is a driver-synchronized job of several joins
    *                  (measured at 8M docs: 2 passes cut the loop from
    *                  11 rounds to 5 and the 1×4 job by ~25%).
    * @param localSolveMax when the quotient hub graph has at most this
    *                  many (symmetrized, deduped) edges, skip the
    *                  distributed loop entirely: collect it and
    *                  union-find on the driver — zero rounds, zero
    *                  per-round driver syncs, and the resulting label
    *                  table is a small RDD the decode join
    *                  broadcasts. This is how two-phase distributed CC
    *                  terminates in practice: the quotient shrinks
    *                  with the square of contraction locality, so even
    *                  petabyte corpora typically end with a
    *                  driver-sized residual. The quotient is collected
    *                  PACKED (primitive long pairs — 8M edges ≈ 128 MB,
    *                  well under any real driver heap). 0 disables
    *                  (always loop). The iterative loop remains the
    *                  path for genuinely huge quotients; measured at
    *                  8M docs the quotient is 2.9M edges (1.19M hubs)
    *                  from 5.1M raw star edges.
    * @return (node, lbl) in the vertex id type — lbl is the
    *         component's min vertex id
    */
  def run(vertices: DataFrame, vCol: String, edges: DataFrame,
      srcCol: String, dstCol: String, maxIter: Int = 20,
      localContract: Boolean = true, contractPasses: Int = 1,
      localSolveMax: Long = 8000000L): DataFrame = {
    require(contractPasses >= 1, "contractPasses must be >= 1")
    val sess = vertices.sparkSession
    val vset = vertices.select(col(vCol).as("node"))
    // endpoint gating on the ORIENTED edges (half the semi-join input
    // of gating the symmetrized table); the dst-then-src order leaves
    // the join output hash-partitioned by src — star hubs co-located —
    // which is exactly the layout the contraction pass collapses best
    val oriented = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .join(vset.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
      .join(vset.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
      .select(col("src"), col("dst"))
    // ---- key encoding (see the object doc) ----
    // the iterated state pays its ROW WIDTH for 10+ rounds of shuffle +
    // checkpoint write + re-read: three longs instead of three UTF8
    // strings runs the loop ~3× narrower (BENCH.md round 5)
    val vtype = oriented.schema("src").dataType
    val t0 = System.nanoTime()
    val (keyed, decode, idMapOpt) = vtype match {
      case ByteType | ShortType | IntegerType | LongType =>
        (oriented.select(col("src").cast(LongType).as("src"),
            col("dst").cast(LongType).as("dst")),
          (l: DataFrame) => l.select(col("node").cast(vtype).as("node"),
            col("lbl").cast(vtype).as("lbl")),
          None)
      case _ =>
        val codec = if (vtype == StringType) numericSuffixCodec(vset) else None
        codec match {
          case Some((enc, dec)) =>
            (oriented.select(enc(col("src")).as("src"), enc(col("dst")).as("dst")),
              (l: DataFrame) => l.select(dec(col("node")).as("node"),
                dec(col("lbl")).as("lbl")),
              None)
          case None =>
            val endpoints = oriented.select(col("src").as("node"))
              .unionByName(oriented.select(col("dst").as("node"))).distinct()
            val idRdd = endpoints.orderBy("node").rdd.zipWithIndex()
              .map { case (r, i) => Row(r.get(0), i) }
            // lazily checkpointed: materializes inside the first job
            // that reads it and is freed by the caller's
            // Bridge.freeLocalCheckpoint(result) walk, like the loop's
            // own round checkpoints
            val idMap = sess.createDataFrame(idRdd, StructType(Seq(
                StructField("node", vtype, nullable = false),
                StructField("id", LongType, nullable = false))))
              .localCheckpoint(eager = false)
            // dst first, src last: the output stays co-located by src
            (oriented
              .join(idMap.select(col("node").as("dst"), col("id").as("_did")), Seq("dst"))
              .join(idMap.select(col("node").as("src"), col("id").as("_sid")), Seq("src"))
              .select(col("_sid").as("src"), col("_did").as("dst")),
              (l: DataFrame) => l
                .join(idMap.select(col("id").as("node"), col("node").as("_nv")), Seq("node"))
                .join(idMap.select(col("id").as("lbl"), col("node").as("_lv")), Seq("lbl"))
                .select(col("_nv").as("node"), col("_lv").as("lbl")),
              Some(idMap))
        }
    }
    val tEncode = System.nanoTime()
    // ---- graph reduction before the iterative loop ----
    // QUOTIENT: one narrow partition-local union-find pass collapses
    // each partition's edges to (member → hub) stars on the
    // partition-local MIN, and the label loop then runs on the tiny hub
    // QUOTIENT graph (hubs are connected iff they share a member)
    // instead of the full edge table. The per-round full-table join +
    // checkpoint traffic — the term that saturates shared memory
    // bandwidth at the larger cluster size and caps N→4N scaling
    // (BENCH.md round 5/6) — disappears: rounds touch thousands of hub
    // rows, not millions of member rows. Labels project back through
    // ONE join against the member→min-hub anchor map (AQE typically
    // broadcasts the hub labels). Correctness: every edge lives in
    // exactly one partition, where its endpoints were unioned under one
    // hub (intra-star connectivity); a vertex seen in k partitions
    // bridges its k hubs (the quotient edges); and the global component
    // min is ALWAYS a hub — it is the local min of its own local
    // component in any partition containing it — so min-label over the
    // quotient equals min-label over the original graph.
    val (anchorOpt, starsOpt, loopOriented) =
      if (localContract) {
        // stars: lazy-checkpointed so the scan + LSH + contraction
        // upstream runs ONCE (materialized inside the loop-init job)
        // even though both `refs` consumers reference it
        val stars = Bridge.dropOriginStats(
          contractLocal(keyed, emitBoth = false)
            .localCheckpoint(eager = false))
        // member rows plus hub self-rows: every endpoint appears with
        // every hub it touches (a hub is its own hub)
        val refs = stars.select(col("src").as("v"), col("dst").as("h"))
          .unionByName(stars.select(col("dst").as("v"), col("dst").as("h")))
        val anchor = Bridge.dropOriginStats(
          refs.groupBy(col("v")).agg(min(col("h")).as("mh"))
            .localCheckpoint(eager = false))
        val hubEdges = refs.join(anchor, Seq("v"))
          .select(col("mh").as("src"), col("h").as("dst"))
          .filter(col("src") =!= col("dst"))
        (Some(anchor), Some(stars), hubEdges)
      } else (None, None, keyed)
    var symRaw = loopOriented.unionByName(
      loopOriented.select(col("dst").as("src"), col("src").as("dst")))
    // extra passes operate on the (already tiny) hub graph
    if (localContract)
      for (_ <- 2 to contractPasses) symRaw = contractLocal(symRaw.repartition(col("src")))
    val symEdges = symRaw.distinct()

    // ---- driver-side solve for small quotient graphs ----
    val localSolved: Option[DataFrame] =
      if (localContract && localSolveMax > 0) {
        // full count first: it materializes the stars/anchor lazy
        // checkpoints COMPLETELY (a limit-collect could stop after a
        // partial partition and leave their blocks half-stored)
        val cnt = symEdges.count()
        if (cnt <= localSolveMax) {
          val tCnt = System.nanoTime()
          val pairs = driverSolve(symEdges)
          // hand the label table back as a small RDD, not a
          // LocalRelation: Row building and InternalRow conversion for
          // ~10^6 labels is single-threaded driver time (a pure
          // serial term both cluster sizes pay equally), whereas the
          // parallelized form builds rows on executors and AQE
          // broadcast-converts the decode join from the RUNTIME
          // shuffle size of this small side — no driver-side relation
          // materialization at all.
          val slices = math.max(1, math.min(16, pairs.length / 100000))
          val rowRdd = sess.sparkContext.parallelize(pairs.toSeq, slices)
            .map { case (v, m) => Row(v, m) }
          System.err.println(s"[graft.cc] localSolve=true quotientEdges=$cnt " +
            s"labels=${pairs.length} contractPasses=$contractPasses " +
            s"encodeMs=${ms(t0, tEncode)} setupMs=${ms(tEncode, tCnt)} " +
            s"solveMs=${ms(tCnt, System.nanoTime())}")
          Some(sess.createDataFrame(rowRdd, StructType(Seq(
            StructField("node", LongType, nullable = false),
            StructField("lbl", LongType, nullable = false)))))
        } else None
      } else None

    val labels: DataFrame = localSolved.getOrElse {
      // the loop re-plans a new QueryExecution per round; AQE turns each
      // round's 2-3 exchanges into SEQUENTIAL query-stage
      // materializations with a driver sync between every one — pure
      // serial overhead when the loop's shuffle partitioning is already
      // explicitly sized (labels are narrow and uniform; nothing here
      // benefits from runtime re-planning). So the LOOP runs on a clone
      // of the caller's session with AQE off (same SparkContext, cache
      // and SQL settings, its own SQLConf): the caller's session is
      // never touched, so a concurrent query on it keeps AQE. The setup
      // (gating semi-joins, contraction, quotient build, count) and the
      // decode joins after the loop are ordinary one-shot plans on the
      // caller's session that DO benefit from AQE's coalescing and
      // runtime broadcast decisions (measured ~35% off q62's setup at
      // sf0.1).
      val loopSess = Bridge.cloneSession(sess)
      loopSess.conf.set("spark.sql.adaptive.enabled", "false")
      val sym = Bridge.rebind(symEdges, loopSess)
        // co-locate the STATIC side of the per-round neighbor join ONCE:
        // distinct() leaves sym hash-partitioned by (src, dst), which the
        // join on src cannot reuse — without this, every round re-shuffles
        // the whole edge table (the largest per-round input) and pays that
        // exchange's stage barrier. The cached InMemoryRelation preserves
        // hashpartitioning(src), so each round only exchanges the labels.
        .repartition(col("src"))
        .persist() // cache-managed: the final result's lineage is
                   // checkpoint-backed, so this is safe to free below
      // only vertices that touch an edge can ever change label — iterate
      // over THAT subgraph and union everyone else back as singletons at
      // the end. In a near-dup corpus the candidate-pair endpoints are a
      // tiny fraction of the documents, so the per-round state shrinks
      // from |V| to |endpoints|.
      // every checkpoint is rebuilt WITHOUT origin statistics
      // (Bridge.dropOriginStats): the round plan self-joins the previous
      // checkpoint several times, and Catalyst's join size estimate
      // multiplies child sizes — with propagated stats the estimate
      // compounds exponentially across rounds until the driver spends
      // minutes in BigInteger math during planning (measured hang at 2M
      // docs with a second pointer-jump join)
      var prevCheckpoint = sym.select(col("src").as("node")).distinct()
        .withColumn("lbl", col("node"))
        .withColumn("prev", col("node"))
        .localCheckpoint()
      var state = Bridge.dropOriginStats(prevCheckpoint)
      var loopLabels = state.select(col("node"), col("lbl"))

      val tInit = System.nanoTime() // init checkpoint materialized setup
      var iter = 0
      var converged = false
      while (iter < maxIter && !converged) {
        val viaNeighbors = sym
          .join(loopLabels, sym("src") === loopLabels("node"))
          .select(col("dst").as("node"), col("lbl"), lit(0).as("own"))
        // pointer jump: my label's label. Label chasing is monotone (a
        // vertex's label never exceeds its id, so l(l(x)) ≤ l(x)).
        val jump = loopLabels.select(col("node"), col("lbl"))
        val viaJump = jump
          .join(loopLabels.select(col("node").as("_j"), col("lbl").as("_l")),
            jump("lbl") === col("_j"))
          .select(jump("node"), col("_l").as("lbl"), lit(0).as("own"))
        // PUSH (hash-to-min's second half): pulling down the pointer
        // chain alone leaves "local minimum" basins that a component min
        // can only cross via neighbor edges at ONE hop per round —
        // measured 17 rounds at 2M docs with pull-only, any jump depth.
        // Each vertex therefore also SENDS its improved label UP to the
        // vertex it pointed at last round, and the chase spreads it back
        // down — the two-way flow that makes hash-to-min logarithmic
        // (Rastogi et al. §3). The checkpoint already carries last
        // round's label as `prev`, so the push is a projection of state
        // the round already has: zero joins, just |V| extra rows riding
        // the existing aggregate shuffle.
        val viaPush = state
          .select(col("prev").as("node"), col("lbl"), lit(0).as("own"))
        // the vertex's previous label rides along as `own=1`, so the SAME
        // aggregate yields both the new label and the fixpoint signal —
        // no extra probe join/shuffle per round
        val next = loopLabels.select(col("node"), col("lbl"), lit(1).as("own"))
          .unionByName(viaNeighbors)
          .unionByName(viaJump)
          .unionByName(viaPush)
          .groupBy(col("node"))
          .agg(min(col("lbl")).as("lbl"),
            min(when(col("own") === 1, col("lbl"))).as("prev"))
          // LAZY checkpoint: the fixpoint probe below is the materializing
          // action, so each round schedules ONE driver-synchronized job
          // instead of two (eager materialization + probe). The probe must
          // be a full count — isEmpty is a take(1) that can stop after one
          // partition and would leave the checkpoint partially stored.
          .localCheckpoint(eager = false)
        val nextClean = Bridge.dropOriginStats(next)
        iter += 1
        converged = nextClean.filter(col("lbl") =!= col("prev")).count() == 0L
        // only after the probe has stored this round's blocks is the
        // previous round's checkpoint safe to drop
        Bridge.freeLocalCheckpoint(prevCheckpoint)
        prevCheckpoint = next
        state = nextClean
        loopLabels = nextClean.select(col("node"), col("lbl"))
      }
      sym.unpersist(blocking = false)
      // phase split for scaling diagnostics (rounds are the serial axis
      // of this operator): key encoding / setup (scan + LSH +
      // contraction + edge cache + init checkpoint, all inside the
      // eager init materialization) / the label loop itself
      System.err.println(s"[graft.cc] converged=$converged rounds=$iter " +
        s"contractPasses=$contractPasses encodeMs=${ms(t0, tEncode)} " +
        s"setupMs=${ms(tEncode, tInit)} loopMs=${ms(tInit, System.nanoTime())}")
      if (!converged) {
        // the final round's block and the setup checkpoints would
        // otherwise outlive the failure (callers that swallow the throw —
        // best-of-N benches — would leak MEMORY_AND_DISK blocks per
        // failed attempt)
        (Seq(prevCheckpoint) ++ idMapOpt ++ anchorOpt ++ starsOpt)
          .foreach(Bridge.freeLocalCheckpoint)
        throw new IllegalStateException(
          s"connected components did not converge within $maxIter rounds — " +
            "the graph has a component whose min-vertex eccentricity exceeds " +
            "the bound; raise maxIter (silently returning split clusters " +
            "would make a dedup pipeline keep duplicates)")
      }
      // the labels go back to the caller's session, so the decode
      // below plans with the caller's settings
      Bridge.rebind(loopLabels, sess)
    }
    // the stars checkpoint only feeds the anchor/hub-edge derivation,
    // both materialized (anchor into its own checkpoint) by the local
    // branch's count or the loop-init job — dead weight from here on
    starsOpt.foreach(Bridge.freeLocalCheckpoint)
    // quotient path: expand hub labels to every endpoint through the
    // anchor map (one join; hubs without quotient edges keep their own
    // id via the coalesce — a single-star hub converges to itself)
    val fullLabels = anchorOpt match {
      case Some(anchor) =>
        anchor.join(labels.withColumnRenamed("node", "mh"), Seq("mh"), "left")
          .select(col("v").as("node"), coalesce(col("lbl"), col("mh")).as("lbl"))
      case None => labels
    }
    val labelsOut = decode(fullLabels)
    // vertices outside every edge are their own components
    val untouched = vertices.select(col(vCol).as("node"))
      .join(labelsOut.select(col("node")), Seq("node"), "left_anti")
      .withColumn("lbl", col("node"))
    labelsOut.unionByName(untouched)
  }

  private def ms(a: Long, b: Long): Long = (b - a) / 1000000L

  /** Order-preserving string↔long codec for vertex ids of the shape
    * `<common-prefix><fixed-width-digits>` — proven, not assumed: one
    * map-side-combined aggregate over the FULL vertex set checks that
    * every id matches the pattern with a single shared prefix and a
    * single total length (⇒ a single digit width ≤ 18). Under those
    * facts `substring→cast(long)` is injective and ORDER-preserving
    * (equal-length strings with a common prefix compare by their digit
    * suffix, which compares numerically when widths are equal), and
    * `concat(prefix, lpad(…))` inverts it exactly. Returns None when
    * any row breaks the shape — callers fall back to the generic
    * ranking remap. */
  private[graft] def numericSuffixCodec(vset: DataFrame)
      : Option[(org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                org.apache.spark.sql.Column => org.apache.spark.sql.Column)] = {
    val pat = "^(.*?)([0-9]{1,18})$"
    val pfx = regexp_extract(col("node"), pat, 1)
    val row = vset.agg(
      count(lit(1)).as("n"),
      sum(when(col("node").rlike(pat), 1L).otherwise(0L)).as("m"),
      min(pfx).as("p0"), max(pfx).as("p1"),
      min(length(col("node"))).as("l0"), max(length(col("node"))).as("l1"))
      .collect()(0)
    val n = row.getLong(0)
    if (n == 0L || row.isNullAt(1) || row.getLong(1) != n) return None
    val (p0, p1) = (row.getString(2), row.getString(3))
    val (l0, l1) = (row.getInt(4), row.getInt(5))
    if (p0 != p1 || l0 != l1) return None
    val width = l0 - p0.length
    if (width < 1 || width > 18) return None
    Some((
      (c: org.apache.spark.sql.Column) =>
        substring(c, p0.length + 1, width).cast(LongType),
      (c: org.apache.spark.sql.Column) =>
        concat(lit(p0), lpad(c.cast(StringType), width, "0"))))
  }

  /** One driver pass of union-find over a collected long edge table
    * (quotient graphs under `localSolveMax`); returns (vertex,
    * componentMin) for every NON-ROOT vertex — roots label themselves,
    * which the decode join's coalesce supplies without a row. */
  private[graft] def driverSolve(e: DataFrame): Array[(Long, Long)] = {
    // packed collect: one primitive long array per partition instead
    // of millions of boxed Rows — the transient driver footprint is
    // 16 bytes/edge
    val packed = e.rdd.mapPartitions { it =>
      val buf = new scala.collection.mutable.ArrayBuilder.ofLong
      it.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1)) {
          buf += r.getLong(0); buf += r.getLong(1)
        }
      }
      Iterator(buf.result())
    }.collect()
    val uf = new LongUnionFind(1 << 12)
    packed.foreach { arr =>
      var i = 0
      while (i < arr.length) { uf.union(arr(i), arr(i + 1)); i += 2 }
    }
    uf.starEdges.toArray
  }

  /** Partition-local union-find contraction over long endpoints (the
    * "local aggregation" trick of the MapReduce-CC literature): within
    * each partition, union every edge's endpoints, then emit star edges
    * from every member to its local component MINIMUM — BOTH
    * orientations unless `emitBoth` is false, so the caller needs no
    * symmetrizing self-union. Narrow (zero shuffle), one pass, memory
    * bounded by the partition's distinct endpoint count. Output size is
    * at most 2·(distinct endpoints per partition), ≤ the symmetrized
    * input and usually far smaller on bucket-clustered candidate
    * graphs. */
  private[graft] def contractLocal(e: DataFrame,
      emitBoth: Boolean = true): DataFrame = {
    val spark = e.sparkSession
    val schema = e.schema
    val rows = e.rdd.mapPartitions { it =>
      val uf = new LongUnionFind(1 << 12)
      it.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1))
          uf.union(r.getLong(0), r.getLong(1))
      }
      if (emitBoth)
        uf.starEdges.flatMap { case (v, m) => Iterator(Row(v, m), Row(m, v)) }
      else
        uf.starEdges.map { case (v, m) => Row(v, m) }
    }
    spark.createDataFrame(rows, schema)
  }

  /** Open-addressing long→long union-find (linear probing, power-of-2
    * capacity, grow at 2/3 load; path-halving find; representative =
    * component MIN member, maintained eagerly on union so no second
    * pass is needed). Single-threaded, per-partition scratch. */
  private[graft] final class LongUnionFind(initialCapacity: Int) {
    // keys: vertex ids; vals: parent pointers. EMPTY slots hold the
    // sentinel key Long.MinValue — a legal vertex id would collide,
    // so union() rejects it (no real corpus keys on Long.MinValue).
    private final val Empty = Long.MinValue
    private var cap = Integer.highestOneBit(math.max(initialCapacity, 16)) * 2
    private var keys = Array.fill[Long](cap)(Empty)
    private var vals = new Array[Long](cap)
    private var size = 0

    private def slot(k: Long): Int = {
      // finalizer from splitmix64 — good avalanche for sequential ids
      var h = k * 0x9E3779B97F4A7C15L
      h ^= (h >>> 32)
      var i = (h & (cap - 1)).toInt
      while (keys(i) != Empty && keys(i) != k) i = (i + 1) & (cap - 1)
      i
    }

    private def grow(): Unit = {
      val ok = keys; val ov = vals
      cap <<= 1
      keys = Array.fill[Long](cap)(Empty)
      vals = new Array[Long](cap)
      var i = 0
      while (i < ok.length) {
        if (ok(i) != Empty) { val j = slot(ok(i)); keys(j) = ok(i); vals(j) = ov(i) }
        i += 1
      }
    }

    /** parent lookup, inserting x as its own root on first sight */
    private def getOrInsert(x: Long): Long = {
      val i = slot(x)
      if (keys(i) == Empty) {
        if ((size + 1) * 3 > cap * 2) { grow(); return getOrInsert(x) }
        keys(i) = x; vals(i) = x; size += 1
        x
      } else vals(i)
    }

    private def find(x0: Long): Long = {
      var x = x0
      var p = getOrInsert(x)
      while (p != x) {
        val gp = vals(slot(p))
        vals(slot(x)) = gp // path halving
        x = gp
        p = vals(slot(x))
      }
      x
    }

    def union(a: Long, b: Long): Unit = {
      require(a != Empty && b != Empty,
        "Long.MinValue vertex id collides with the open-addressing " +
          "sentinel — run ConnectedComponents with localContract=false " +
          "(the uncontracted loop, no union-find) for graphs that can " +
          "carry this id")
      val ra = find(a)
      val rb = find(b)
      // min-root union: the surviving root IS the component minimum,
      // because every inserted vertex >= its root at all times
      if (ra < rb) vals(slot(rb)) = ra
      else if (rb < ra) vals(slot(ra)) = rb
    }

    /** (member, componentMin) for every non-root member */
    def starEdges: Iterator[(Long, Long)] = {
      val ks = keys; val capNow = cap
      (0 until capNow).iterator
        .filter(i => ks(i) != Empty)
        .map(i => (ks(i), find(ks(i))))
        .filter { case (v, m) => v != m }
    }
  }
}
