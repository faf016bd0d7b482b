package graft.operators

import graft.engine.Ops
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/**
 * Link-graph analytics for web-corpus curation.
 *
 * Domain-level PageRank (Page et al. 1999) is the classic web-scale
 * quality prior: Common-Crawl-style curation ranks registrable domains by
 * the host link graph and uses the rank as a crawl/keep signal. The graph
 * here is domains-as-nodes — at 100 TB the node table is millions of rows
 * and the edge table billions, both far smaller than the corpus, and each
 * iteration is one join + one aggregate on the edge table's natural key.
 *
 * Arithmetic is EXACT fixed-point integer (ranks scaled by `scale`):
 * float PageRank sums contributions in nondeterministic order, so two
 * engines (or two runs) disagree in the low bits; here every step is
 * integer multiply / truncating divide / order-free integer sum, so the
 * result is bit-identical cross-engine and the whole operator sits under
 * the DuckDB hash gate. Truncation loses < 1 ulp of mass per edge per
 * iteration — at scale=1e12 that is a relative error of ~1e-9, far below
 * the few-iteration approximation error PageRank already carries.
 */
object Graph {

  /** Weighted PageRank over an edge list, `iters` synchronous iterations,
    * damping `dampPct`/100, ranks scaled by `scale`. Returns (node, pr)
    * with pr a scaled long; Σ pr ≈ scale (minus truncation dust).
    *
    * Nodes are the union of edge endpoints. Dangling nodes (no
    * out-edges) keep only the teleport share — their lost mass is NOT
    * redistributed, matching the simplest published formulation; feed a
    * dangling-free graph (or add self-loops) when mass conservation
    * matters.
    *
    * Scale shape: per iteration, one broadcast-able join of the rank
    * table against the edge table on src (both partitioned by the same
    * key across iterations) and one integer-sum groupBy on dst. The rank
    * table is |nodes| rows — materializing it every 2nd iteration keeps
    * the plan flat, the recursiveLookup / connectedComponents discipline. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
               iters: Int = 5, scale: Long = 1000000000000L,
               dampPct: Int = 85): DataFrame = {
    require(iters >= 1 && dampPct >= 0 && dampPct <= 100)
    val e = edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"),
        col(wCol).cast(LongType).as("__w"))
      .groupBy("__s", "__d").agg(sum("__w").as("__w"))
      .transform(Ops.materialize) // read every iteration
    val nodes = e.select(col("__s").as("node"))
      .union(e.select(col("__d").as("node"))).distinct()
      .transform(Ops.materialize) // read every iteration
    val outW = e.groupBy(col("__s")).agg(sum("__w").as("__ow")).transform(Ops.materialize)
    val nDf = nodes.agg(count(lit(1)).as("__n")) // 1 row; rides as a frame
    var rank = nodes.crossJoin(nDf)
      .select(col("node"), expr(s"$scale div __n").as("pr"))
      .transform(Ops.materialize)
    for (i <- 1 to iters) {
      val contrib = rank.join(e, col("node") === col("__s"))
        .join(outW, "__s")
        .select(col("__d").as("node"),
          expr("(pr * __w) div __ow").as("__c"))
        .groupBy("node").agg(sum("__c").as("__c"))
      rank = nodes.crossJoin(nDf)
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          expr(s"(($scale * ${100 - dampPct}) div 100) div __n" +
            s" + ($dampPct * coalesce(__c, 0L)) div 100").as("pr"))
      // loop depth, every 2nd iteration: O(1) plan depth, half the jobs
      if (i % 2 == 0 || i == iters) rank = Ops.materialize(rank)
    }
    rank
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) over a weighted edge list,
    * `iters` synchronous iterations — the complementary link-quality prior
    * to [[pageRank]]: authorities are pages good hubs point AT, hubs are
    * pages that point at good authorities (directory/spam-farm separation
    * in web-corpus curation).
    *
    * Arithmetic is the same EXACT fixed-point integer discipline as
    * [[pageRank]], with L1 normalization each half-step (the sum-to-one
    * variant of the published algorithm — L2 needs a sqrt, which breaks
    * integer exactness; L1 converges to the same principal eigenvectors
    * up to scaling): `x ← (x_raw · scale) div Σ x_raw`, every term an
    * order-free integer sum, so the result is bit-identical cross-engine.
    * Overflow envelope: `scale · Σ(x·w)` must stay under 2⁶³ — with the
    * default scale 1e6 that allows ~9e12 of summed weighted mass per
    * half-step; widen to DECIMAL internally if a graph ever exceeds it.
    *
    * Scale shape: identical to [[pageRank]] — per half-step one join of a
    * |nodes|-row score table against the edge table and one integer-sum
    * groupBy; the same materialization cadence keeps the plan flat. Returns
    * (node, hub, auth), both scaled longs summing to ≈ scale. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
           iters: Int = 5, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1 && scale >= 1)
    val e = edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"),
        col(wCol).cast(LongType).as("__w"))
      .groupBy("__s", "__d").agg(sum("__w").as("__w"))
      .transform(Ops.materialize) // read every half-step
    val nodes = e.select(col("__s").as("node"))
      .union(e.select(col("__d").as("node"))).distinct()
      .transform(Ops.materialize) // read every half-step
    // the integer fixed point needs scale >= |nodes|: below that the
    // uniform init `scale div n` (and, later, per-node quotients against a
    // large L1 total) truncate to 0, the normalizing total hits 0, and the
    // div is undefined — null scores under non-ANSI, an exception under
    // ANSI. `nodes` is domain-sized and already materialized, so the count
    // is one cheap driver-side aggregate
    val n = nodes.count()
    if (n == 0) // empty edge set: nothing to rank, and scale / n is undefined
      return nodes.select(col("node"), lit(0L).as("hub"), lit(0L).as("auth"))
    require(scale >= n,
      s"hits: scale ($scale) must be >= node count ($n) for the integer " +
        "fixed point to stay exact — raise scale (e.g. 1e12)")
    var hub = nodes
      .select(col("node"), lit(scale / n).as("hub"))
      .transform(Ops.materialize)
    var auth = hub.select(col("node"), col("hub").as("auth"))
    for (i <- 1 to iters) {
      // authority half-step: a_raw(d) = Σ hub(s)·w over in-edges, then L1
      val aRaw = hub.join(e, col("node") === col("__s"))
        .select(col("__d").as("node"), (col("hub") * col("__w")).as("__x"))
        .groupBy("node").agg(sum("__x").as("__raw"))
      val aTot = aRaw.agg(sum("__raw").as("__tot"))
      auth = nodes.join(aRaw, Seq("node"), "left").crossJoin(aTot)
        .select(col("node"),
          expr(s"(coalesce(__raw, 0L) * $scale) div __tot").as("auth"))
      // hub half-step: h_raw(s) = Σ auth(d)·w over out-edges, then L1
      val hRaw = auth.join(e, col("node") === col("__d"))
        .select(col("__s").as("node"), (col("auth") * col("__w")).as("__x"))
        .groupBy("node").agg(sum("__x").as("__raw"))
      val hTot = hRaw.agg(sum("__raw").as("__tot"))
      hub = nodes.join(hRaw, Seq("node"), "left").crossJoin(hTot)
        .select(col("node"),
          expr(s"(coalesce(__raw, 0L) * $scale) div __tot").as("hub"))
      // loop depth, hub only (auth is one half-step on top), every 2nd
      if (i % 2 == 0 || i == iters) hub = Ops.materialize(hub)
    }
    hub.join(auth, "node").select(col("node"), col("hub"), col("auth"))
  }

  /** Per-node triangle counts over an undirected view of the edge list —
    * the local clustering signal (link-farm rings and template networks
    * show up as dense triangle neighborhoods; organic link graphs are
    * sparse in them).
    *
    * Degree-ordered orientation (each undirected edge points from the
    * (degree, node)-smaller endpoint to the larger) makes every triangle
    * countable exactly once from its unique smallest vertex AND bounds
    * the wedge-join fanout by √|E| per node instead of the max degree —
    * the standard trick that keeps hub vertices from going quadratic at
    * web scale (Suri & Vassilvitskii 2011). Three edge-keyed equality
    * joins, no windows, all counts exact integers. Returns
    * (node, n_triangles) for every endpoint, zeros included. */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // und/deg/o: 2-3 consumers each (downstream joins); graph-sized
    val und = edges.select(
        least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .transform(Ops.materialize)
    val deg = und.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("dg"))
      .transform(Ops.materialize)
    val du = deg.select(col("n").as("u"), col("dg").as("du"))
    val dv = deg.select(col("n").as("v"), col("dg").as("dv"))
    val uLower = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
    val o = und.join(du, "u").join(dv, "v")
      .select(when(uLower, col("u")).otherwise(col("v")).as("a"),
        when(uLower, col("v")).otherwise(col("u")).as("b"),
        when(uLower, col("dv")).otherwise(col("du")).as("db"))
      .transform(Ops.materialize)
    val o1 = o.select(col("a"), col("b").as("x"), col("db").as("dx"))
    val o2 = o.select(col("a"), col("b").as("y"), col("db").as("dy"))
    val wedges = o1.join(o2, Seq("a"))
      .filter(struct(col("dx"), col("x")) < struct(col("dy"), col("y")))
    val tri = wedges.join(
      o.select(col("a").as("x"), col("b").as("y")), Seq("x", "y"))
    val perNode = tri.select(explode(array(col("a"), col("x"), col("y"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("n_triangles"))
    deg.select(col("n").as("node"))
      .join(perNode.select(col("n").as("node"), col("n_triangles")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }
}
