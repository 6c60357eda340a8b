package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components: the engine's one implementation. Every entry
  * point labels each node of an undirected edge list (`doc_a`, `doc_b`)
  * with its component's minimum id.
  *
  *  - [[of]]: the dedup-chain primitive (q57, q110, q114). Driver
  *    union-find at or below [[DriverEdgeCutoff]], [[star]] above it.
  *  - [[star]]: distributed large-star / small-star (Kiveris et al.,
  *    "Connected Components in MapReduce and Beyond", SoCC 2014),
  *    O(log n) rounds regardless of component diameter (q159, q279,
  *    q287, q295 call it directly).
  *  - [[blockLocal]]: one union-find per block, for edge lists whose
  *    components provably never cross a block key (the ER chain, q251
  *    and q269).
  *
  * [[of]]'s driver branch and [[blockLocal]] share one union-find.
  */
object Components {

  /** Directed-edge count at or below which [[of]] solves components with
    * union-find on the driver: after LSH/shingle candidate generation the
    * dup graph is a vanishing fraction of the corpus, and a bounded
    * collect beats O(log n) distributed rounds — the same small-side
    * reasoning as a broadcast join. Above it, [[star]] runs. */
  private val DriverEdgeCutoff = 100000

  private val MaxRounds = 30

  /** Union-find where the smaller root always wins, so each root is its
    * component's minimum under `ord`; iterative path-compressing find. */
  private final class UnionFind[T](implicit ord: Ordering[T]) {
    private val parent = scala.collection.mutable.HashMap.empty[T, T]

    def find(x: T): T = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }

    def union(a: T, b: T): Unit = {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }

    def nodes: Iterator[T] = parent.keysIterator
  }

  /** Connected components over an undirected candidate-pair edge list of
    * long ids → (doc_id, cluster_rep, is_kept) with the min-id
    * representative. */
  def of(s: SparkSession, pairs: DataFrame): DataFrame = {
    // symmetrize via explode, NOT union(pairs, pairs.swap): a union
    // evaluates the (expensive) candidate-generation subtree once per
    // leg; the explode emits both directions from a single pass
    val edges = pairs
      .select(explode(array(
        struct(col("doc_a"), col("doc_b")),
        struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))).as("e"))
      .select(col("e.doc_a").as("doc_a"), col("e.doc_b").as("doc_b"))
      .distinct()
      // candidate-edge frames are bucket-bounded by construction (df
      // caps upstream); caching them at the raw shuffle width makes the
      // count + every cached read schedule shuffle.partitions tasks
      // (4096 under the production profile — measured r10). Coalescing
      // to the core count first never increases width; it does narrow
      // the producing distinct stage to core count too, which the
      // bucket-bounded precondition makes safe — above the cutoff the
      // large-star rounds re-shuffle at full width anyway.
      .coalesce(pairs.sparkSession.sparkContext.defaultParallelism)
      .cache()
    val edgeCount = edges.count()
    if (edgeCount > DriverEdgeCutoff) {
      // star checkpoints its normalized edge frame before returning, so
      // the cache has no reader left once it returns
      try star(s, edges) finally edges.unpersist()
    } else {
      import s.implicits._
      val es = edges.as[(Long, Long)].collect()
      edges.unpersist()
      val uf = new UnionFind[Long]
      es.foreach { case (a, b) => uf.union(a, b) }
      val rows = es.map(_._1).distinct.map(n => (n, uf.find(n))).toSeq
      rows.toDF("doc_id", "cluster_rep")
        .select(col("doc_id"), col("cluster_rep"),
          (col("doc_id") === col("cluster_rep")).as("is_kept"))
    }
  }

  /** Alternating large-star/small-star to fixpoint over an undirected
    * edge list (any orientation, self-loops ignored) →
    * (doc_id, cluster_rep, is_kept) for every node with ≥1 edge.
    *
    *  - large-star(u): connect every STRICTLY LARGER neighbor of u to
    *    m(u) = min(Γ(u) ∪ {u}).
    *  - small-star(u): connect every neighbor ≤ u, and u itself, to
    *    m(u).
    *
    * Both preserve connectivity; alternated to fixpoint the edge set
    * becomes a star forest rooted at each component's minimum id. Each
    * round is two shuffle-aggregate-join passes over the edge list;
    * throws if no fixpoint is reached in [[MaxRounds]] rounds. */
  def star(s: SparkSession, pairs: DataFrame): DataFrame = {
    // normalized undirected form (u < v); the loop maintains this
    // invariant — large-star emits (m, w) with m ≤ u < w, small-star
    // emits (m, w) with m ≤ w, self-loops dropped
    // cardinality measured INSIDE the checkpoint job via observe — the
    // separate count() action per materialization was one whole job of
    // scheduling latency each (r16)
    var (edges, n) = Mat.stableCount(pairs
      .select(least(col("doc_a"), col("doc_b")).as("u"),
        greatest(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    // nodes reads the INITIAL checkpointed edge frame and is consumed
    // exactly once (the final left join), so it needs no checkpoint of
    // its own — the eager stable() here was one wasted job per closure
    // call (and q295 calls the closure three times) (r15)
    val nodes = edges.select(explode(array(col("u"), col("v"))).as("doc_id"))
      .distinct()

    // directed both ways: one row per (node, neighbor)
    def directed(e: DataFrame): DataFrame = e
      .select(explode(array(
        struct(col("u").as("x"), col("v").as("nbr")),
        struct(col("v").as("x"), col("u").as("nbr")))).as("e"))
      .select(col("e.x").as("x"), col("e.nbr").as("nbr"))

    // m(x) = min(Γ(x) ∪ {x})
    def mins(dir: DataFrame): DataFrame = dir
      .groupBy(col("x"))
      .agg(least(col("x"), min(col("nbr"))).as("m"))

    var converged = false
    var round = 0
    // fixpoint bookkeeping (r15): carry the previous round's cardinality
    // instead of re-counting the already-checkpointed frame every round
    // (one action saved per round), and test set equality with a single
    // LEFT ANTI join — both frames are distinct by construction, so
    // "same cardinality ∧ empty one-sided anti" ⇔ equal sets, without
    // EXCEPT's extra de-dup aggregate. Short-circuit keeps the anti-join
    // off every non-final round (cardinality still shrinking).
    while (!converged && round < MaxRounds) {
      // afterLarge is NOT checkpointed (r15): its three same-round
      // consumers (dirS's join probe + the two mins(dirS) legs) all read
      // it through the SAME dirS-by-x exchange, which Spark
      // de-duplicates via ReusedExchange inside the one afterSmall job —
      // the eager materialization here was a whole extra job per round.
      // Lineage still truncates every round at afterSmall's checkpoint,
      // so plan depth stays O(1) per round, not compounding.
      // afterLarge is NOT distinct'd either (r16): each directed edge
      // (x, w > x) emits exactly one row, so the frame is never larger
      // than the round's edge set; min-aggregates are duplicate-
      // insensitive and the round's final distinct dedups the output —
      // the intermediate distinct was one whole exchange+aggregate (an
      // AQE stage job) per round for nothing (guide §2.4).
      val dirL = directed(edges)
      val afterLarge = dirL.join(mins(dirL), Seq("x"))
        .filter(col("nbr") > col("x"))
        .select(col("m").as("u"), col("nbr").as("v"))
        .filter(col("u") =!= col("v"))
      val dirS = directed(afterLarge)
      val (afterSmall, m) = Mat.stableCount(
        dirS.join(mins(dirS), Seq("x"))
          .filter(col("nbr") <= col("x"))
          .select(col("m").as("u"), col("nbr").as("v"))
          .unionByName(mins(dirS)
            .select(col("m").as("u"), col("x").as("v")))
          .filter(col("u") =!= col("v"))
          .distinct())
      converged = m == n &&
        afterSmall.join(edges, Seq("u", "v"), "left_anti").isEmpty
      edges = afterSmall
      n = m
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"large-star/small-star did not converge in $round rounds")
    // star forest: every non-root has exactly the component min as its
    // neighbor set's minimum; roots keep themselves
    val labels = directed(edges)
      .groupBy(col("x").as("doc_id"))
      .agg(least(col("doc_id"), min(col("nbr"))).as("cluster_rep"))
    nodes.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_rep"), col("doc_id")).as("cluster_rep"))
      .select(col("doc_id"), col("cluster_rep"),
        (col("doc_id") === col("cluster_rep")).as("is_kept"))
  }

  /** Components of a string-id edge list whose edges never cross
    * `block` (a function of `doc_a` that `doc_b` shares) →
    * (doc_id, cluster_rep) with the lexicographic-min representative,
    * for every node with ≥1 edge.
    *
    * Components cannot span blocks, so the closure decomposes into
    * independent per-block closures: a single groupBy(block) pass with
    * the local union-find over each block's edge list, instead of the
    * O(log n)-round global [[star]] closure whose per-round fixed costs
    * (checkpoint job + convergence action + driver planning, ~25
    * sequential sub-second jobs on the ER chain) dominated q251/q269 at
    * every scale where blocks are bounded (r16; guide §1.2 — the
    * distributed algorithm before per-task work; measured via
    * graft.Profile: the loop's rounds were latency, not data).
    *
    * Scale (100 TB): the per-task state is one block's edges — bounded
    * by whatever bounds the caller's blocked match stage — and the
    * groupBy reuses that stage's block-keyed partitioning (no extra
    * exchange). [[star]] stays the device for graphs whose edges CROSS
    * partition keys. */
  def blockLocal(edges: DataFrame, block: Column): DataFrame = {
    val comps = udf((es: Seq[Row]) => {
      val uf = new UnionFind[String]
      es.foreach(e => uf.union(e.getString(0), e.getString(1)))
      uf.nodes.toArray.sorted.map(k => (k, uf.find(k)))
    })
    edges
      .groupBy(block.as("blk"))
      .agg(collect_list(struct(col("doc_a"), col("doc_b"))).as("es"))
      .select(explode(comps(col("es"))).as("kv"))
      .select(col("kv._1").as("doc_id"), col("kv._2").as("cluster_rep"))
  }
}
