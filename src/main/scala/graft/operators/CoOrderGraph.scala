package graft.operators

import graft.core.{QueryDef, QueryModule, Tables}
import graft.query.Query
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** The co-order part graph and the gates over it: two parts are adjacent
  * when some order holds lines of both. [[orderPairs]] is the one builder
  * of that edge list from `lineitem`; every gate here and every streaming
  * twin ([[graft.streaming.Streaming]]) derives its graph from it, and
  * DuckDB recomputes each gate from its own `pairs` CTE.
  */
object CoOrderGraph extends QueryModule {

  /** The co-order edge list of a lineitem frame: one `(o, u, v)` row per
    * pair of lines of order `o` with part `u` < part `v`. Multiplicity is
    * kept — a pair that shares two orders is two rows — so gates that
    * want the simple graph take `distinct()` of `(u, v)`, and g33/g45
    * weigh the pair by it. */
  def orderPairs(li: DataFrame): DataFrame = {
    val l = li.select(col("l_orderkey"), col("l_partkey"))
    l.as("a").join(l.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_orderkey").as("o"), col("a.l_partkey").as("u"),
        col("b.l_partkey").as("v"))
  }

  /** [[orderPairs]] without the order key: `(u, v)`, multiplicity kept. */
  def edges(li: DataFrame): DataFrame = orderPairs(li).select(col("u"), col("v"))

  private def edges(s: SparkSession, d: String): DataFrame = edges(Tables.lineitem(s, d))

  /** Both directions of an undirected `(u, v)` edge frame. */
  private def symmetric(pairs: DataFrame): DataFrame =
    pairs.select(col("u"), col("v")).union(pairs.select(col("v").as("u"), col("u").as("v")))

  /** Both directions of the distinct edges of a `(u, v)` frame, as
    * `(node, nbr)`. */
  private def adjacency(e: DataFrame): DataFrame = {
    val pairs = e.select(col("u"), col("v")).distinct()
    pairs.select(col("u").as("node"), col("v").as("nbr"))
      .union(pairs.select(col("v").as("node"), col("u").as("nbr")))
  }

  /** The `n` lowest node ids of a symmetric edge frame: the seed rule of
    * every bounded traversal here, mirrored by the oracles'
    * `ORDER BY node LIMIT n`. */
  private def lowestNodes(edges: DataFrame, n: Int): DataFrame =
    edges.select(col("u").as("node")).distinct().orderBy(col("node")).limit(n)

  /** g19 — triangle count ([[Query.triangleCount]]) over the parts-
    * co-ordered graph (two parts are adjacent when some order contains
    * both). The engine side runs the degree-ordered orientation — the
    * plan that survives power-law hubs at web scale. */
  def triangles(s: SparkSession, d: String): DataFrame =
    Query.triangleCount(edges(s, d))

  val trianglesSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (
      |  SELECT id, count(*) AS deg
      |  FROM (SELECT u AS id FROM pairs UNION ALL SELECT v FROM pairs)
      |  GROUP BY id),
      |o AS (
      |  SELECT CASE WHEN (da.deg, p.u) < (db.deg, p.v) THEN p.u ELSE p.v END AS s,
      |         CASE WHEN (da.deg, p.u) < (db.deg, p.v) THEN p.v ELSE p.u END AS t
      |  FROM pairs p JOIN deg da ON da.id = p.u JOIN deg db ON db.id = p.v),
      |w AS (SELECT x.t AS a, y.t AS b FROM o x JOIN o y ON x.s = y.s AND x.t != y.t)
      |SELECT (SELECT count(*) FROM pairs) AS n_edges,
      |  (SELECT count(*) FROM w JOIN o ON o.s = w.a AND o.t = w.b) AS n_triangles""".stripMargin

  /** g32 — SAMPLED TRIANGLE COUNT: the DOULION estimator (Tsourakakis
    * et al., KDD'09) made REPLAYABLE — sparsify edges by a DETERMINISTIC
    * hash ([[graft.core.Exact.edgeDraw]]: a nonlinear mod-(2³¹−1) mix
    * with a u·v product term, keep ≡0 mod 4, p = 1/4) instead of coin
    * flips,
    * count triangles on the ~p·|E| survivor graph with the g19
    * discipline, scale by p⁻³ = 64. The scale story: wedge work falls
    * ~p² BEFORE any join runs because the filter sits on the scan side,
    * and the hash draw means the estimate is bit-identical on any
    * cluster, any partitioning, any retry — rand()-based sampling can
    * never be oracle-gated. Emits the sampled sizes alongside the
    * estimate so the observed sampling ratio is auditable. */
  def trianglesSampled(s: SparkSession, d: String): DataFrame = {
    val sampled = edges(s, d).distinct().where(graft.core.Exact.edgeDraw(col("u"), col("v")))
    Query.triangleCount(sampled)
      .select(col("n_edges").as("n_sampled_edges"),
        col("n_triangles").as("n_sampled_triangles"),
        (col("n_triangles") * lit(64L)).as("estimate"))
  }

  val trianglesSampledSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |samp AS (
      |  SELECT u, v FROM pairs
      |  WHERE """.stripMargin + graft.core.Exact.sqlEdgeDraw("u", "v") + """),
      |deg AS (
      |  SELECT id, count(*) AS deg
      |  FROM (SELECT u AS id FROM samp UNION ALL SELECT v FROM samp)
      |  GROUP BY id),
      |o AS (
      |  SELECT CASE WHEN (da.deg, p.u) < (db.deg, p.v) THEN p.u ELSE p.v END AS s,
      |         CASE WHEN (da.deg, p.u) < (db.deg, p.v) THEN p.v ELSE p.u END AS t
      |  FROM samp p JOIN deg da ON da.id = p.u JOIN deg db ON db.id = p.v),
      |w AS (SELECT x.t AS a, y.t AS b FROM o x JOIN o y ON x.s = y.s AND x.t != y.t),
      |tri AS (SELECT count(*) AS c FROM w JOIN o ON o.s = w.a AND o.t = w.b)
      |SELECT (SELECT count(*) FROM samp) AS n_sampled_edges,
      |  c AS n_sampled_triangles, c * 64 AS estimate FROM tri""".stripMargin

  /** g23 — LABEL-PROPAGATION COMMUNITIES ([[Query.labelPropagation]])
    * over g19's parts-co-ordered graph: three synchronous min-tie-break
    * rounds, then per-node (id, label) plus the community size — the
    * community-detection primitive that needs no parameter besides the
    * round count (vs modularity methods' resolution) and runs in
    * O(rounds · E) joins, which is why it's the one that survives
    * web-scale graphs. Community size comes from a window count over the
    * final labels, not a second aggregation pass. */
  def labelPropagation(s: SparkSession, d: String): DataFrame =
    Query.labelPropagation(edges(s, d), iterations = 3)
      .withColumn("csize",
        count(lit(1)).over(Window.partitionBy(col("label"))))
      .orderBy(col("id"))

  val labelPropagationSql: String = {
    def round(prev: String, cur: String) =
      s"""$cur AS (
         |  SELECT node AS id, label FROM (
         |    SELECT a.node, l.label,
         |      row_number() OVER (PARTITION BY a.node
         |        ORDER BY count(*) DESC, l.label ASC) AS rn
         |    FROM adj a JOIN $prev l ON l.id = a.nbr
         |    GROUP BY a.node, l.label) WHERE rn = 1)""".stripMargin
    s"""WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |adj AS (SELECT u AS node, v AS nbr FROM pairs
      |        UNION ALL SELECT v, u FROM pairs),
      |l0 AS (SELECT DISTINCT node AS id, node AS label FROM adj),
      |${round("l0", "l1")},
      |${round("l1", "l2")},
      |${round("l2", "l3")}
      |SELECT id, label, count(*) OVER (PARTITION BY label) AS csize
      |FROM l3 ORDER BY id""".stripMargin
  }

  /** g33 — WEIGHTED LABEL-PROPAGATION COMMUNITIES: g23 on the SAME
    * parts graph but with edge weight = co-order multiplicity (how many
    * orders carried both parts), so a pair ordered together fifty times
    * pulls labels fifty times harder than a one-off — the
    * interaction-strength community structure the distinct-edge walk
    * flattens away. Engine: [[Query.labelPropagationWeighted]], three
    * fixed rounds, sum-of-weights argmax with min-label ties. Same
    * O(rounds · E) join shape as g23 — the weight column rides the
    * existing shuffles for free. */
  def weightedLabelPropagation(s: SparkSession, d: String): DataFrame = {
    val wpairs = edges(s, d)
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("weight"))
    Query.labelPropagationWeighted(wpairs, iterations = 3)
      .withColumn("csize",
        count(lit(1)).over(Window.partitionBy(col("label"))))
      .orderBy(col("id"))
  }

  val weightedLabelPropagationSql: String = {
    def round(prev: String, cur: String) =
      s"""$cur AS (
         |  SELECT node AS id, label FROM (
         |    SELECT a.node, l.label,
         |      row_number() OVER (PARTITION BY a.node
         |        ORDER BY sum(a.w) DESC, l.label ASC) AS rn
         |    FROM adj a JOIN $prev l ON l.id = a.nbr
         |    GROUP BY a.node, l.label) WHERE rn = 1)""".stripMargin
    s"""WITH pairs AS (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS w
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2),
      |adj AS (SELECT u AS node, v AS nbr, w FROM pairs
      |        UNION ALL SELECT v, u, w FROM pairs),
      |l0 AS (SELECT DISTINCT node AS id, node AS label FROM adj),
      |${round("l0", "l1")},
      |${round("l1", "l2")},
      |${round("l2", "l3")}
      |SELECT id, label, count(*) OVER (PARTITION BY label) AS csize
      |FROM l3 ORDER BY id""".stripMargin
  }

  /** g34 — CORENESS BY H-INDEX ITERATION (Lü et al. 2016): start every
    * node at its degree and repeatedly replace each node's value with
    * the H-INDEX of its neighbors' values (the largest h such that ≥ h
    * neighbors hold ≥ h); the sequence is monotone non-increasing and
    * converges to the node's CORENESS — the full k-core decomposition
    * in one vertex-centric loop, no per-k peel. Six fixed rounds (the
    * g23 bounded contract, oracle-mirrored; the fixture spec pins
    * convergence-to-coreness and the k-core cross-check). Per round:
    * one join + a map-combinable (node, value) count, then a cumulative
    * sum over the distinct-value buckets — see [[hIndexRound]] for why
    * the count-above-threshold identity makes the round hub-safe. Scale
    * shape: the same O(rounds · E) joins as LPA, but the only per-node
    * sort runs over distinct neighbor VALUES, not neighbors, so a
    * degree-10⁷ hub costs its value-spectrum, not its degree. */
  def corenessHIndex(s: SparkSession, d: String): DataFrame =
    corenessOf(edges(s, d), rounds = 6).orderBy(col("id"))

  /** One H-index round in the COUNT-ABOVE-THRESHOLD form: the H-index
    * needs only how many neighbors hold each value, not their ranks, so
    * aggregate (node, value) → count FIRST (map-side combinable — a
    * degree-10⁷ hub shrinks to its distinct neighbor values before the
    * shuffle), cumulative-sum the counts descending per node (cum(v) =
    * #neighbors ≥ v), and take max over distinct values of
    * min(v, cum(v)) — an exact identity with the sorted-rank H-index
    * (⇐ the smallest distinct value v ≥ h has cum(v) ≥ h; ⇒ any
    * min(v, cum) = m exhibits ≥ m neighbors ≥ m). The earlier
    * row_number-over-full-neighborhood form funneled a hub's entire
    * adjacency through one task's window sort; here the window input is
    * the distinct-value buckets only. Factored so PlanSpec can pin the
    * ROUND's plan shape (the loop checkpoints eagerly, so the gate's
    * final plan would show only the post-checkpoint projection). */
  private[graft] def hIndexRound(adj: DataFrame, h: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("node")).orderBy(col("hv").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    adj.join(h.select(col("node").as("nbr"), col("h").as("hv")), "nbr")
      .groupBy(col("node"), col("hv")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(w))
      .groupBy(col("node")).agg(max(least(col("hv"), col("cum"))).as("h"))
  }

  /** The H-iteration run to its FIXPOINT from an arbitrary SEED — the
    * warm-restart building block an incremental coreness store needs.
    * Correct for any seed that is a pointwise UPPER bound on coreness
    * and ≤ the degree-start (sandwich: the H-operator is monotone, so
    * H^n(seed) ≤ H^n(degree) → coreness from above, while H^n(seed) ≥
    * H^n(coreness) = coreness because coreness is a fixpoint). After a
    * batch of |B| edge insertions the canonical such seed is
    * min(deg_new, old_coreness + |B|) — the GLOBAL |B|, not the per-node
    * incident count: one inserted edge can raise coreness of nodes
    * arbitrarily far away (close a path into a cycle and EVERY node goes
    * 1 → 2), so any locally-bounded seed is not an upper bound. NOT an
    * oracle gate: measured full-convergence depth is 10 / 19 / 38 rounds
    * at sf0.001 / sf0.01 / sf0.1 (TUNING.md "Closed A/Bs"), and 38 is past
    * the ~20-round unrollable-DuckDB-oracle limit (TUNING round-11 line)
    * — so the fixpoint lives behind specs, not CORRECTNESS rows. */
  private[graft] def corenessFixpointFrom(e: DataFrame, seed: DataFrame,
                                          maxIter: Int = 60): DataFrame = {
    val adj = adjacency(e).localCheckpoint()
    var h = seed.select(col("node"), col("h")).localCheckpoint()
    var changed = -1L
    var i = 0
    while (changed != 0L && i < maxIter) {
      i += 1
      val next = graft.core.Iterate.save(hIndexRound(adj, h), 0, i)
      changed = next.join(h.withColumnRenamed("h", "hp"), "node")
        .where(col("h") =!= col("hp")).count()
      h = next
    }
    if (changed != 0L)
      System.err.println(
        s"[graft] corenessFixpointFrom: cap maxIter=$maxIter hit with $changed nodes " +
          "still moving — result is an upper bound on coreness")
    h.select(col("node").as("id"), col("h").as("coreness_h"))
  }

  /** The H-index loop on an arbitrary (u, v) edge list — spec seam. */
  private[graft] def corenessOf(e: DataFrame, rounds: Int): DataFrame = {
    val adj = adjacency(e).localCheckpoint()
    var h = adj.groupBy(col("node")).agg(count(lit(1)).as("h"))
    var prev = h
    var i = 0
    while (i < rounds) {
      prev = h
      h = graft.core.Iterate.save(hIndexRound(adj, h), 0, i + 1)
      i += 1
    }
    // bounded-round contract (oracle-mirrored), but never silently: the
    // H-iteration is monotone non-increasing, so one join of the last two
    // frames detects a not-yet-converged decomposition (kTrussOf's
    // cap-hit discipline — deep graphs need ~diameter/2 rounds)
    if (rounds > 0) {
      val moving = h.join(prev.withColumnRenamed("h", "hPrev"), "node")
        .where(col("h") =!= col("hPrev")).count()
      if (moving > 0)
        System.err.println(
          s"[graft] corenessOf: $moving nodes still changing at round $rounds — " +
            "the bounded-round column is an upper bound on coreness, not coreness")
    }
    h.select(col("node").as("id"), col("h").as("coreness_h"))
  }

  val corenessHIndexSql: String = {
    def round(prev: String, cur: String) =
      s"""$cur AS (
         |  SELECT node AS id, max(least(rn, hv)) AS h FROM (
         |    SELECT a.node, p.h AS hv,
         |      row_number() OVER (PARTITION BY a.node ORDER BY p.h DESC) AS rn
         |    FROM adj a JOIN $prev p ON p.id = a.nbr)
         |  GROUP BY node)""".stripMargin
    s"""WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |adj AS (SELECT u AS node, v AS nbr FROM pairs
      |        UNION ALL SELECT v, u FROM pairs),
      |h0 AS (SELECT node AS id, count(*) AS h FROM adj GROUP BY node),
      |${round("h0", "h1")},
      |${round("h1", "h2")},
      |${round("h2", "h3")},
      |${round("h3", "h4")},
      |${round("h4", "h5")},
      |${round("h5", "h6")}
      |SELECT id, CAST(h AS BIGINT) AS coreness_h FROM h6 ORDER BY id""".stripMargin
  }

  /** g30 — k-TRUSS membership: the triangle-grade analogue of g25's
    * k-core (every surviving edge sits in ≥ k-2 triangles among the
    * survivors). Cohesion by TRIANGLES, not raw degree, so hub edges
    * that touch many vertices but close few wedges peel away — the
    * community-core subgraph k-core can't isolate. Engine peels to the
    * true fixpoint on the g19 parts-co-ordered graph (k=11: 115 729 →
    * 2 502 edges at sf0.01, DuckDB-verified). */
  def kTruss(s: SparkSession, d: String): DataFrame =
    kTrussOf(edges(s, d), 11).orderBy(col("u"), col("v"))

  /** Per-oriented-edge triangle support over an [[Query.orient]]ed edge
    * set `(s, t)`: each of [[Query.triangles]]' rows credits its three
    * oriented edges. The left join + coalesce keeps triangle-free edges
    * at support 0 (they belong in any k-truss with k ≤ 2). ~4 shuffles
    * per call, everything keyed on the oriented pair. */
  private def orientedSupport(o: DataFrame): DataFrame = {
    val tri = Query.triangles(o)
    val sup = tri.select(col("w").as("s"), col("a").as("t"))
      .union(tri.select(col("w").as("s"), col("b").as("t")))
      .union(tri.select(col("a").as("s"), col("b").as("t")))
      .groupBy(col("s"), col("t")).agg(count(lit(1)).as("c"))
    o.join(sup, Seq("s", "t"), "left")
      .select(col("s"), col("t"), coalesce(col("c"), lit(0L)).as("c"))
  }

  /** The truss peel on an arbitrary canonical (u < v) edge list.
    * Convergence contract mirrors [[kCoreOf]]: fixpoint or `maxIter`
    * rounds; on a cap hit the final support re-filter still holds for
    * every emitted edge (a superset of the true truss, never a silent
    * cut) and stderr names the cap. Each round runs entirely in the
    * once-oriented space: wedge self-join + closing equi-join +
    * map-combinable support count + left join back (~4 shuffles), over
    * the shrinking survivor set; at fixpoint the last round's filtered
    * supports are emitted directly (no redundant final enumeration).
    * `Iterate.save` truncates per-round lineage AND clamps checkpoint
    * stats with the CC/k-core `reliableEvery` option for multi-hour
    * runs. */
  private[graft] def kTrussOf(e0: DataFrame, k: Int, maxIter: Int = 100,
      reliableEvery: Int = 0): DataFrame = {
    def save(df: DataFrame, round: Int): DataFrame =
      graft.core.Iterate.save(df, reliableEvery, round)
    // orient once; the whole peel runs in oriented (s, t) space and only
    // the final emit canonicalises back to (u, v). Any fixed acyclic
    // orientation enumerates each triangle exactly once, so the loop never
    // re-derives degrees over the shrinking survivor set.
    val e = e0.where(col("u") < col("v")).distinct()
    var o = save(Query.orient(e, Query.degrees(e)), 0)
    var n = o.count()
    var iter = 0
    var done = n == 0L
    // survives the loop so the fixpoint round's support is emitted
    // WITHOUT a redundant final triangle enumeration: at fixpoint the
    // filtered set equals its input, so the supports just computed are
    // already the supports within the final edge set
    var lastSup: DataFrame = o.withColumn("c", lit(0L))
    while (!done && iter < maxIter) {
      val sup = save(orientedSupport(o).where(col("c") >= k - 2), iter + 1)
      val next = sup.select(col("s"), col("t"))
      val m = next.count()
      done = m == n
      n = m
      o = next
      lastSup = sup
      iter += 1
    }
    val fin =
      if (!done) {
        System.err.println(
          s"[graft] kTrussOf: iteration cap maxIter=$maxIter hit before fixpoint " +
            s"(k=$k, |edges|=$n) — emitting the support>=${k - 2} superset of the true truss")
        // cap hit: the last filter ran against a NOT-yet-stable set, so
        // supports must be re-derived within the emitted survivor set
        orientedSupport(o).where(col("c") >= k - 2)
      } else lastSup
    fin.select(least(col("s"), col("t")).as("u"),
      greatest(col("s"), col("t")).as("v"), col("c").as("support"))
  }

  /** Oracle: 8 unrolled peel rounds (measured depth: 5 at sf0.01, 2 at
    * sf0.1 — an under-unrolled oracle diverges loudly, the g25 rule).
    * The oracle enumerates each triangle once from its canonical a<b<c
    * ordering — simpler than the engine's degree orientation and fine
    * single-node. */
  val kTrussSql: String = {
    val rounds = 8
    def round(r: Int): String =
      s"""e$r AS MATERIALIZED (
        |  SELECT u, v FROM (
        |    SELECT u, v, count(*) AS s FROM (
        |      SELECT ab.u AS u, ab.v AS v
        |      FROM e${r - 1} ab JOIN e${r - 1} bc ON bc.u = ab.v
        |      JOIN e${r - 1} ac ON ac.u = ab.u AND ac.v = bc.v
        |      UNION ALL
        |      SELECT bc.u, bc.v
        |      FROM e${r - 1} ab JOIN e${r - 1} bc ON bc.u = ab.v
        |      JOIN e${r - 1} ac ON ac.u = ab.u AND ac.v = bc.v
        |      UNION ALL
        |      SELECT ac.u, ac.v
        |      FROM e${r - 1} ab JOIN e${r - 1} bc ON bc.u = ab.v
        |      JOIN e${r - 1} ac ON ac.u = ab.u AND ac.v = bc.v)
        |    GROUP BY u, v)
        |  WHERE s >= 9)""".stripMargin
    s"""WITH e0 AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |${(1 to rounds).map(round).mkString(",\n")}
      |SELECT u, v, s AS support FROM (
      |  SELECT u, v, count(*) AS s FROM (
      |    SELECT ab.u AS u, ab.v AS v
      |    FROM e$rounds ab JOIN e$rounds bc ON bc.u = ab.v
      |    JOIN e$rounds ac ON ac.u = ab.u AND ac.v = bc.v
      |    UNION ALL
      |    SELECT bc.u, bc.v
      |    FROM e$rounds ab JOIN e$rounds bc ON bc.u = ab.v
      |    JOIN e$rounds ac ON ac.u = ab.u AND ac.v = bc.v
      |    UNION ALL
      |    SELECT ac.u, ac.v
      |    FROM e$rounds ab JOIN e$rounds bc ON bc.u = ab.v
      |    JOIN e$rounds ac ON ac.u = ab.u AND ac.v = bc.v)
      |  GROUP BY u, v)
      |WHERE s >= 9 ORDER BY u, v""".stripMargin
  }

  /** g31 — k-TRUSS PARAMETER SWEEP: g30's peel at k ∈ {8, 11, 14},
    * emitting edge count and total support per setting — the g26-style
    * operating-point table for triangle cohesion. Two scale moves:
    * (1) MONOTONE REUSE — truss(k₂) ⊆ truss(k₁) for k₂ > k₁, so each
    * higher k peels the PREVIOUS k's survivors, not the full graph; the
    * expensive wedge enumeration runs once over |E| and then over the
    * (orders-of-magnitude smaller) surviving cores. Starting at k=8
    * (not lower) matters for the same reason: a low-k first stage
    * barely peels, so EVERY bounded round re-enumerates a full-size
    * graph — k=8's first filter collapses the survivor set immediately
    * and only round one pays |E|. (2) BOUNDED ROUNDS — each k runs at
    * most 6 support recomputes + the final re-filter (the g23
    * fixed-round contract, exactly mirrored by the oracle's unroll): a
    * peel in its trickle zone (one edge falling per round) costs
    * bounded work instead of an unbounded tail, and the emitted table
    * is the DOCUMENTED bounded-round superset, identical in both
    * engines whether or not the peel converged. Both reuses stay sound
    * under the cap because the capped emit is a superset of every
    * deeper truss.
    * Each k emits its row even when empty (the d18/g26 zero-row
    * contract). */
  def kTrussSweep(s: SparkSession, d: String): DataFrame = {
    var survivors: DataFrame = edges(s, d)
    val rows = Seq(8, 11, 14).map { k =>
      val t = graft.core.Iterate.save(kTrussOf(survivors, k, maxIter = 6), 0, k)
      survivors = t.select(col("u"), col("v"))
      t.agg(
          count(lit(1)).as("n_edges"),
          coalesce(sum(col("support")), lit(0L)).as("sum_support"))
        .select(lit(k).as("k"), col("n_edges"), col("sum_support"))
    }
    rows.reduce(_ union _).orderBy(col("k"))
  }

  /** Oracle mirrors both the monotone reuse and the bounded-round
    * contract exactly: per k, 8 filter rounds then a final
    * support-recompute-and-filter (`f{k}` = the engine's emit, capped
    * or converged), and the next k's chain starts from `f{k}` — the
    * same set the engine hands to its next peel. */
  val kTrussSweepSql: String = {
    val rounds = 6
    def tri(src: String): String =
      s"""SELECT ab.u AS u, ab.v AS v
        |      FROM $src ab JOIN $src bc ON bc.u = ab.v
        |      JOIN $src ac ON ac.u = ab.u AND ac.v = bc.v
        |      UNION ALL
        |      SELECT bc.u, bc.v
        |      FROM $src ab JOIN $src bc ON bc.u = ab.v
        |      JOIN $src ac ON ac.u = ab.u AND ac.v = bc.v
        |      UNION ALL
        |      SELECT ac.u, ac.v
        |      FROM $src ab JOIN $src bc ON bc.u = ab.v
        |      JOIN $src ac ON ac.u = ab.u AND ac.v = bc.v""".stripMargin
    def supp(src: String): String =
      s"""SELECT u, v, count(*) AS s FROM (
        |      ${tri(src)})
        |    GROUP BY u, v""".stripMargin
    def chain(k: Int, from: String): String = {
      def round(r: Int): String =
        s"""t${k}_$r AS MATERIALIZED (
          |  SELECT u, v FROM (
          |    ${supp(s"t${k}_${r - 1}")})
          |  WHERE s >= ${k - 2})""".stripMargin
      s"""t${k}_0 AS MATERIALIZED (SELECT u, v FROM $from),
        |${(1 to rounds).map(round).mkString(",\n")},
        |f$k AS MATERIALIZED (
        |  SELECT u, v, s FROM (
        |    ${supp(s"t${k}_$rounds")})
        |  WHERE s >= ${k - 2})""".stripMargin
    }
    def fin(k: Int): String =
      s"""SELECT $k AS k, CAST(count(*) AS BIGINT) AS n_edges,
        |    CAST(coalesce(sum(s), 0) AS BIGINT) AS sum_support FROM f$k""".stripMargin
    s"""WITH e0 AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |${chain(8, "e0")},
      |${chain(11, "f8")},
      |${chain(14, "f11")}
      |SELECT k, n_edges, sum_support FROM (
      |  ${Seq(8, 11, 14).map(fin).mkString("\n  UNION ALL\n  ")})
      |ORDER BY k""".stripMargin
  }

  /** g38 — DETERMINISTIC RANDOM WALKS: the node2vec/DeepWalk corpus
    * primitive — every node starts a fixed-length walk whose next hop is
    * chosen by a HASH of (start, current, step) over the ranked
    * adjacency, not by rand(): the walk table is bit-identical on any
    * cluster, any partitioning, any retry, so it can be oracle-gated and
    * (more importantly) regenerated exactly for reproducible embedding
    * training. The hash is the [[graft.core.Exact.edgeDraw]] discipline
    * — nonlinear mix mod 2³¹−1, Lehmer scramble, THEN the mod — because
    * `mod deg` of a raw polynomial would inherit the low-bit degeneracy
    * the round-11 DOULION fix documents. Scale shape: the ranked
    * adjacency is built once hub-safely — rank within hash-buckets of
    * the neighbor key plus per-node bucket-count offsets, two
    * map-combinable passes, never a full-neighborhood sort — and reused
    * by every step; each step is ONE equi-join on the current node with
    * a residual rank filter — O(steps · |frontier|), and the frontier
    * never exceeds the start set. */
  def randomWalks(s: SparkSession, d: String): DataFrame =
    walksOf(edges(s, d), steps = 4).orderBy(col("start"), col("step"))

  /** Walk index for step `i`: Lehmer-scrambled mix of (start, node, i)
    * mod the node's degree, 1-based. The Scala/SQL pair must stay in
    * lockstep (same rule as Exact.edgeDraw). */
  private val WalkM = 2147483647L
  private def walkIdx(i: Int): Column = {
    val m = lit(WalkM)
    val a = col("start") % m
    val b = col("node") % m
    val h1 = ((a * b) % m + (a * lit(48271L)) % m + (b * lit(16807L)) % m +
      lit(i.toLong * 12345L)) % m
    (h1 * lit(48271L)) % m % col("deg") + lit(1L)
  }
  private def walkIdxSql(i: Int, start: String, node: String, deg: String): String =
    s"(((($start % $WalkM) * ($node % $WalkM)) % $WalkM + (($start % $WalkM) * 48271) % $WalkM + " +
      s"(($node % $WalkM) * 16807) % $WalkM + ${i.toLong * 12345L}) % $WalkM) * 48271 " +
      s"% $WalkM % $deg + 1"

  /** Hash-bucket count for the hub-safe walk index: a degree-10⁷ hub's
    * neighborhood is ranked in ≤ deg/B per-task sorts instead of one. */
  private[graft] val WalkBuckets = 64L
  private def nbrBucket(c: Column): Column =
    c % lit(WalkM) * lit(48271L) % lit(WalkM) % lit(WalkBuckets)

  /** The hub-safe walk index, pre-checkpoint (PlanSpec pins its shape):
    * `(node, nbr, rn, deg)` where rn is the 1-based rank of nbr within
    * node's adjacency ordered by (hash-bucket(nbr), nbr). */
  private[graft] def rankedAdjacency(adj: DataFrame, deg: DataFrame): DataFrame = {
    val bucketed = adj.withColumn("bkt", nbrBucket(col("nbr")))
    val inBkt = bucketed.withColumn("rb", row_number().over(
      Window.partitionBy(col("node"), col("bkt")).orderBy(col("nbr"))).cast("long"))
    val offs = bucketed.groupBy(col("node"), col("bkt")).agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(sum(col("bn")).over(
        Window.partitionBy(col("node")).orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("node"), col("bkt"), col("off"))
    inBkt.join(offs, Seq("node", "bkt"))
      .withColumn("rn", col("off") + col("rb"))
      .join(deg, "node")
      .select(col("node"), col("nbr"), col("rn"), col("deg"))
  }

  private[graft] def walksOf(pairs: DataFrame, steps: Int): DataFrame = {
    val adj = adjacency(pairs)
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // Hub-safe ranked adjacency (the g34 discipline): rank within
    // hash-buckets of the neighbor key, then add per-node bucket-count
    // offsets. The per-task sort is ≤ deg/B rows, and the only
    // node-partitioned window sits above a (node, bkt) aggregate with at
    // most B rows per node. rn is still a permutation of 1..deg — now
    // ordered by (bucket, nbr) rather than nbr, which the oracle mirrors
    // — so the uniform hash-draw semantics are unchanged.
    val ranked = rankedAdjacency(adj, deg)
      .localCheckpoint() // static index: built once, probed every step
    var cur = deg.select(col("node").as("start"), col("node"), lit(0L).as("step"))
    var out = cur
    for (i <- 1 to steps) {
      cur = cur.join(ranked.withColumnRenamed("node", "n2"),
          col("node") === col("n2") && col("rn") === walkIdx(i))
        .select(col("start"), col("nbr").as("node"), lit(i.toLong).as("step"))
      out = out.unionByName(cur)
    }
    out
  }

  val randomWalksSql: String = {
    def round(i: Int, prev: String): String =
      s"""w$i AS (
         |  SELECT w.start, r.nbr AS node, CAST($i AS BIGINT) AS step
         |  FROM $prev w JOIN ranked r ON r.node = w.node
         |    AND r.rn = ${walkIdxSql(i, "w.start", "w.node", "r.deg")})""".stripMargin
    s"""WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |adj AS (SELECT u AS node, v AS nbr FROM pairs
      |        UNION ALL SELECT v, u FROM pairs),
      |deg AS (SELECT node, count(*) AS deg FROM adj GROUP BY node),
      |ranked AS (
      |  -- (bucket, nbr) ordering == the engine's bucketed rank + offset form
      |  SELECT a.node, a.nbr,
      |    CAST(row_number() OVER (PARTITION BY a.node
      |      ORDER BY a.nbr % $WalkM * 48271 % $WalkM % $WalkBuckets, a.nbr) AS BIGINT) AS rn,
      |    d.deg
      |  FROM adj a JOIN deg d ON d.node = a.node),
      |w0 AS (SELECT node AS start, node, CAST(0 AS BIGINT) AS step FROM deg),
      |${(1 to 4).map(i => round(i, s"w${i - 1}")).mkString(",\n")}
      |SELECT start, step, node FROM (
      |  SELECT * FROM w0 UNION ALL SELECT * FROM w1 UNION ALL SELECT * FROM w2
      |  UNION ALL SELECT * FROM w3 UNION ALL SELECT * FROM w4)
      |ORDER BY start, step""".stripMargin
  }

  /** g39 — DEGREE ASSORTATIVITY sufficient statistics (Newman 2002,
    * Phys. Rev. Lett. 89.208701) over the co-order part graph: do hubs
    * attach to hubs (assortative, r>0) or to leaves (disassortative,
    * r<0)? Emits the EXACT integer sufficient statistics of the
    * symmetrized edge-end degree sequence — n_ends = 2|E|,
    * Σd, Σd², Σd·d' (both directions) — from which
    * r = (n·Σdd − (Σd)²) / (n·Σd² − (Σd)²); the division stays OUT of
    * the gate (the p3 sufficient-statistics discipline: the engine
    * compare is bit-exact BIGINTs, the float happens wherever the
    * caller wants it). Scale shape: degrees are one map-side-combined
    * aggregation over edge ends, the stats one more over edges joined
    * to their two end degrees — two equi-joins keyed on the vertex,
    * never a window or a collect. */
  def assortativity(s: SparkSession, d: String): DataFrame =
    assortativityOf(edges(s, d).distinct())

  /** [[assortativity]] over an explicit DISTINCT `(u, v)` edge frame —
    * the graph-shaped entry the hand-fixture spec drives. */
  private[graft] def assortativityOf(pairs: DataFrame): DataFrame = {
    val deg = Query.degrees(pairs)
    pairs
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
      .agg(count(lit(1)).as("ne"),
        sum(col("du") + col("dv")).as("sd"),
        sum(col("du") * col("du") + col("dv") * col("dv")).as("sd2"),
        sum(col("du") * col("dv")).as("sdd"))
      .select((col("ne") * 2).as("n_ends"),
        coalesce(col("sd"), lit(0L)).as("sum_d"),
        coalesce(col("sd2"), lit(0L)).as("sum_d2"),
        (coalesce(col("sdd"), lit(0L)) * 2).as("sum_dd"))
  }

  val assortativitySql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (
      |  SELECT id, count(*) AS deg
      |  FROM (SELECT u AS id FROM pairs UNION ALL SELECT v FROM pairs)
      |  GROUP BY id)
      |SELECT 2 * count(*) AS n_ends,
      |  CAST(coalesce(sum(da.deg + db.deg), 0) AS BIGINT) AS sum_d,
      |  CAST(coalesce(sum(da.deg * da.deg + db.deg * db.deg), 0) AS BIGINT) AS sum_d2,
      |  CAST(2 * coalesce(sum(da.deg * db.deg), 0) AS BIGINT) AS sum_dd
      |FROM pairs p JOIN deg da ON da.id = p.u JOIN deg db ON db.id = p.v""".stripMargin

  /** g40 — DEGREE SPECTRUM (count-of-degrees): p8's frequency-spectrum
    * diagnostic applied to the graph — how many nodes have each degree.
    * This is the table every skew decision in this codebase reads
    * implicitly (salting thresholds, broadcast-vs-shuffle, the g34
    * hub-window rewrite): a heavy right tail says shuffle-by-vertex
    * plans need salting, a short one says they don't — measured, not
    * guessed, before committing a 100 TB job. Two map-side-combinable
    * aggregations (ends → degree, degree → node count); output is
    * bounded by the distinct-degree count. */
  def degreeSpectrum(s: SparkSession, d: String): DataFrame =
    degreeSpectrumOf(edges(s, d).distinct()).orderBy(col("deg"))

  /** [[degreeSpectrum]] over an explicit DISTINCT `(u, v)` edge frame. */
  private[graft] def degreeSpectrumOf(pairs: DataFrame): DataFrame =
    Query.degrees(pairs).groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))

  val degreeSpectrumSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (
      |  SELECT id, count(*) AS deg
      |  FROM (SELECT u AS id FROM pairs UNION ALL SELECT v FROM pairs)
      |  GROUP BY id)
      |SELECT deg, count(*) AS n_nodes FROM deg GROUP BY deg ORDER BY deg""".stripMargin

  /** g41 — RICH-CLUB COEFFICIENT sweep (Zhou & Mondragón 2004): do the
    * hubs preferentially wire to each other? For each degree threshold
    * k, take the club N_k = {nodes with deg > k} and report
    * φ(k) = 2·E_k / (N_k·(N_k−1)) with E_k the edges inside the club —
    * the third member of the topology-diagnostic trio (g39 global
    * mixing, g40 the spectrum, g41 the head's internal wiring; a dense
    * rich club is the worst case for any shuffle-by-vertex plan because
    * the skew is CORRELATED across join sides). φ is integer millionths
    * with the division stated on both engines; thresholds where the
    * club has <2 members emit NULL φ rather than a fake zero. Shape:
    * the degree table filters to the club, and club membership reaches
    * the edge set as two semi-joins on the endpoint — never an
    * enumeration of club pairs. */
  def richClub(s: SparkSession, d: String): DataFrame =
    richClubOf(edges(s, d).distinct(), Seq(2L, 4L, 8L, 16L)).orderBy(col("k"))

  /** [[richClub]] over an explicit DISTINCT `(u, v)` edge frame. */
  private[graft] def richClubOf(pairs: DataFrame, ks: Seq[Long]): DataFrame = {
    val deg = Query.degrees(pairs).localCheckpoint() // probed once per threshold
    ks.map { k =>
      val club = deg.where(col("deg") > k).select(col("id"))
      val nk = club.agg(count(lit(1)).as("n_club"))
      val ek = pairs
        .join(club.select(col("id").as("u")), Seq("u"), "left_semi")
        .join(club.select(col("id").as("v")), Seq("v"), "left_semi")
        .agg(count(lit(1)).as("e_club"))
      nk.crossJoin(ek).select(lit(k).as("k"), col("n_club"), col("e_club"),
        // explicit <2-member guard: ANSI div-by-zero would throw, and the
        // oracle's CASE states the same NULL
        expr("CASE WHEN n_club >= 2 THEN (2000000 * e_club) div (n_club * (n_club - 1)) END")
          .as("phi_ppm"))
    }.reduce[DataFrame](_ unionByName _)
  }

  val richClubSql: String = {
    val arms = Seq(2, 4, 8, 16).map { k =>
      s"""SELECT $k AS k,
         |  (SELECT count(*) FROM deg WHERE deg > $k) AS n_club,
         |  (SELECT count(*) FROM pairs p
         |   WHERE p.u IN (SELECT id FROM deg WHERE deg > $k)
         |     AND p.v IN (SELECT id FROM deg WHERE deg > $k)) AS e_club""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (
      |  SELECT id, count(*) AS deg
      |  FROM (SELECT u AS id FROM pairs UNION ALL SELECT v FROM pairs)
      |  GROUP BY id),
      |arms AS (
      |  $arms)
      |SELECT k, n_club, e_club,
      |  CASE WHEN n_club >= 2
      |       THEN (2000000 * e_club) // (n_club * (n_club - 1)) END AS phi_ppm
      |FROM arms ORDER BY k""".stripMargin
  }

  /** g37 — LOCAL CLUSTERING COEFFICIENT ([[Query.localClustering]]) over
    * g19's parts-co-order graph: per-node triangle participation over
    * wedge capacity, exact ppm fixed point. The per-vertex companion to
    * the global g19 count — curation pipelines read it as a community
    * cohesion / spam-structure signal (near-0 hubs vs near-10⁶ cliques). */
  def localClusteringCoeff(s: SparkSession, d: String): DataFrame =
    Query.localClustering(edges(s, d)).orderBy(col("id"))

  val localClusteringCoeffSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (
      |  SELECT id, count(*) AS deg
      |  FROM (SELECT u AS id FROM pairs UNION ALL SELECT v FROM pairs)
      |  GROUP BY id),
      |o AS (
      |  SELECT CASE WHEN (da.deg, p.u) < (db.deg, p.v) THEN p.u ELSE p.v END AS s,
      |         CASE WHEN (da.deg, p.u) < (db.deg, p.v) THEN p.v ELSE p.u END AS t
      |  FROM pairs p JOIN deg da ON da.id = p.u JOIN deg db ON db.id = p.v),
      |tri AS (
      |  SELECT x.s AS s, x.t AS a, y.t AS b
      |  FROM o x JOIN o y ON x.s = y.s AND x.t != y.t
      |  JOIN o z ON z.s = x.t AND z.t = y.t),
      |nt AS (
      |  SELECT id, count(*) AS n_tri
      |  FROM (SELECT unnest(list_value(s, a, b)) AS id FROM tri)
      |  GROUP BY id)
      |SELECT d.id, CAST(d.deg AS BIGINT) AS deg,
      |  CAST(coalesce(nt.n_tri, 0) AS BIGINT) AS n_tri,
      |  CAST(CASE WHEN d.deg >= 2
      |    THEN (2 * coalesce(nt.n_tri, 0) * 1000000) // (d.deg * (d.deg - 1))
      |    ELSE 0 END AS BIGINT) AS lcc_ppm
      |FROM deg d LEFT JOIN nt ON nt.id = d.id
      |ORDER BY d.id""".stripMargin

  /** g42 — MULTI-SOURCE BFS LAYERS: exact hop-distance layer counts
    * from a deterministic seed set (the 4 lowest node ids) over the
    * co-order part graph, bounded at 4 hops — the reachability profile
    * behind "how local is this graph" decisions (frontier growth per
    * hop is what decides whether an iterative traversal broadcast its
    * frontier or shuffles it; g42 MEASURES that growth). All seeds ride
    * ONE frame — per round a single frontier⋈edges equi-join keyed by
    * vertex, a distinct, and an anti-join against the visited set, so
    * k sources cost one pass, not k traversals. Bounded-round contract:
    * exactly [[BfsMaxDist]] rounds, mirrored 1:1 by the oracle's
    * unrolled CTE chain (the bounded-round-oracle rule); rounds after
    * the frontier empties are no-ops on both engines. Per-round frames
    * go through the stats-clamped `Iterate.save`. */
  def bfsLayers(s: SparkSession, d: String): DataFrame =
    bfsLayersOf(edges(s, d).distinct(), nSeeds = 4, maxDist = BfsMaxDist)
      .orderBy(col("seed"), col("dist"))

  private[graft] val BfsMaxDist = 4

  /** [[bfsLayers]] over an explicit DISTINCT `(u, v)` edge frame. */
  private[graft] def bfsLayersOf(pairs: DataFrame, nSeeds: Int, maxDist: Int): DataFrame = {
    // static dim reused by every round — the documented bare-checkpoint
    // exception (nothing loop-carried flows through it)
    val edges = symmetric(pairs).localCheckpoint()
    val seeds = lowestNodes(edges, nSeeds)
    bfsVisited(edges, seeds, maxDist)
      .groupBy(col("seed"), col("dist")).agg(count(lit(1)).as("n_nodes"))
  }

  /** Bounded multi-source BFS over a SYMMETRIC edge frame, returning the
    * full (seed, node, dist) visited table — the building block g42
    * rolls up into layers and g49's double sweep probes for extremes. */
  private[graft] def bfsVisited(edges: DataFrame, seeds: DataFrame,
                                maxDist: Int): DataFrame = {
    var visited = seeds.select(col("node").as("seed"), col("node"),
      lit(0).as("dist")).localCheckpoint()
    var frontier = visited.select(col("seed"), col("node"))
    var i = 0
    while (i < maxDist) {
      val next = frontier.select(col("seed"), col("node").as("fu"))
        .join(edges, col("fu") === col("u"))
        .select(col("seed"), col("v").as("node")).distinct()
        .join(visited.select(col("seed"), col("node")), Seq("seed", "node"), "left_anti")
      frontier = graft.core.Iterate.save(next, 0, i)
      visited = graft.core.Iterate.save(
        visited.unionByName(frontier.withColumn("dist", lit(i + 1))), 0, i)
      i += 1
    }
    visited
  }

  val bfsLayersSql: String = {
    // unrolled CTE chain: f{k} = frontier at dist k, v{k} = visited ≤ k
    val rounds = (1 to BfsMaxDist).map { k =>
      s"""f$k AS (
         |  SELECT DISTINCT f.seed, e.v AS node
         |  FROM f${k - 1} f JOIN e ON e.u = f.node
         |  WHERE NOT EXISTS (SELECT 1 FROM v${k - 1} p
         |                    WHERE p.seed = f.seed AND p.node = e.v)),
         |v$k AS (SELECT * FROM v${k - 1}
         |        UNION ALL SELECT seed, node, $k AS dist FROM f$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |e AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
      |seeds AS (SELECT DISTINCT u AS node FROM e ORDER BY node LIMIT 4),
      |v0 AS (SELECT node AS seed, node, 0 AS dist FROM seeds),
      |f0 AS (SELECT seed, node FROM v0),
      |$rounds
      |SELECT seed, CAST(dist AS INT) AS dist, count(*) AS n_nodes
      |FROM v$BfsMaxDist GROUP BY seed, dist ORDER BY seed, dist""".stripMargin
  }

  /** g43 — KATZ WALK CENTRALITY (bounded): per-node counts of walks of
    * length 1, 2, 3 (A·1, A²·1, A³·1 over the symmetrized co-order
    * adjacency) and the Katz score Σ βᵏ·walks_k with β = 1/4 carried as
    * the exact integer 16·w1 + 4·w2 + w3 — the path-based centrality
    * complementing the degree family (g39–g41 read the 1-hop picture;
    * Katz weighs influence THROUGH the neighborhood, the feature
    * link-prediction stacks use beside g27's RA index). Walk counts are
    * sparse matvecs: each hop is ONE vertex-keyed equi-join of the
    * current count vector against the edge list plus a map-combinable
    * sum — never a matrix product, never all-pairs; three hops = three
    * shuffles bounded by |E|. Mirrored exactly by the oracle's chained
    * CTEs (walks, not simple paths — the standard Katz semantics: a
    * walk may revisit nodes, which is what keeps each hop a linear
    * operator and the 100 TB plan a join chain). */
  def katzWalks(s: SparkSession, d: String): DataFrame =
    katzWalksOf(edges(s, d).distinct()).orderBy(col("id"))

  /** [[katzWalks]] over an explicit DISTINCT `(u, v)` edge frame. */
  private[graft] def katzWalksOf(pairs: DataFrame): DataFrame = {
    // static dim reused by every hop — the documented bare-checkpoint
    // exception (nothing loop-carried flows through it)
    val edges = symmetric(pairs).localCheckpoint()
    // w1 = degree; each further hop pulls the neighbor's current count
    def hop(w: DataFrame): DataFrame = edges
      .join(w.select(col("id").as("v"), col("wk")), Seq("v"))
      .groupBy(col("u").as("id")).agg(sum(col("wk")).as("wk"))
    val w1 = edges.groupBy(col("u").as("id")).agg(count(lit(1)).as("wk"))
      .localCheckpoint()
    val w2 = hop(w1).localCheckpoint()
    val w3 = hop(w2)
    w1.select(col("id"), col("wk").as("w1"))
      .join(w2.select(col("id"), col("wk").as("w2")), Seq("id"), "left")
      .join(w3.select(col("id"), col("wk").as("w3")), Seq("id"), "left")
      .select(col("id"), col("w1"),
        coalesce(col("w2"), lit(0L)).as("w2"),
        coalesce(col("w3"), lit(0L)).as("w3"))
      .withColumn("katz16",
        col("w1") * 16 + col("w2") * 4 + col("w3"))
  }

  val katzWalksSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |e AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
      |w1 AS (SELECT u AS id, count(*) AS wk FROM e GROUP BY u),
      |w2 AS (SELECT e.u AS id, CAST(sum(w.wk) AS BIGINT) AS wk
      |       FROM e JOIN w1 w ON w.id = e.v GROUP BY e.u),
      |w3 AS (SELECT e.u AS id, CAST(sum(w.wk) AS BIGINT) AS wk
      |       FROM e JOIN w2 w ON w.id = e.v GROUP BY e.u)
      |SELECT w1.id, w1.wk AS w1,
      |  coalesce(w2.wk, 0) AS w2, coalesce(w3.wk, 0) AS w3,
      |  w1.wk * 16 + coalesce(w2.wk, 0) * 4 + coalesce(w3.wk, 0) AS katz16
      |FROM w1 LEFT JOIN w2 ON w2.id = w1.id LEFT JOIN w3 ON w3.id = w1.id
      |ORDER BY w1.id""".stripMargin

  /** g44 — EDGE EMBEDDEDNESS spectrum ([[Query.edgeSupport]]): how many
    * triangles each co-order edge sits inside, rolled up to a histogram
    * — the tie-strength table (Granovetter): the support-0 row counts
    * LOCAL BRIDGES (ties whose endpoints share no neighbor — exactly
    * the edges community detection must not cut and dedup clustering
    * must not transitively merge across), the high-support tail counts
    * intra-community cables. Per-edge structure where g37 gave
    * per-node; same once-oriented triangle plan, 3-edge attribution
    * explode, output bounded by the distinct-support count. */
  def edgeEmbeddedness(s: SparkSession, d: String): DataFrame =
    Query.edgeSupport(edges(s, d))
      .groupBy(col("support")).agg(count(lit(1)).as("n_edges"))
      .orderBy(col("support"))

  val edgeEmbeddednessSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (
      |  SELECT id, count(*) AS deg
      |  FROM (SELECT u AS id FROM pairs UNION ALL SELECT v FROM pairs)
      |  GROUP BY id),
      |o AS (
      |  SELECT CASE WHEN (da.deg, p.u) < (db.deg, p.v) THEN p.u ELSE p.v END AS s,
      |         CASE WHEN (da.deg, p.u) < (db.deg, p.v) THEN p.v ELSE p.u END AS t
      |  FROM pairs p JOIN deg da ON da.id = p.u JOIN deg db ON db.id = p.v),
      |tri AS (
      |  SELECT x.s AS w, x.t AS a, y.t AS b
      |  FROM o x JOIN o y ON x.s = y.s AND x.t != y.t
      |  JOIN o z ON z.s = x.t AND z.t = y.t),
      |e3 AS (
      |  SELECT least(w, a) AS u, greatest(w, a) AS v FROM tri
      |  UNION ALL SELECT least(w, b), greatest(w, b) FROM tri
      |  UNION ALL SELECT least(a, b), greatest(a, b) FROM tri),
      |sup AS (SELECT u, v, count(*) AS support FROM e3 GROUP BY u, v)
      |SELECT CAST(coalesce(s.support, 0) AS BIGINT) AS support,
      |  count(*) AS n_edges
      |FROM pairs p LEFT JOIN sup s ON s.u = p.u AND s.v = p.v
      |GROUP BY 1 ORDER BY support""".stripMargin

  /** g45 — BOUNDED WEIGHTED SHORTEST PATHS (Bellman-Ford unroll): min
    * path COST from the g42 seed set within 3 hops, where an edge costs
    * 10⁶ div (shared-order count) — strong ties are cheap, so the
    * cheapest route happily takes two strong hops over one weak one
    * (the relaxation semantics hop-BFS can't express, pinned by the
    * spec). Each round is one frontier⋈edges equi-join + a
    * map-combinable min — the sparse min-plus matvec, the tropical-
    * semiring sibling of g43's counting matvec — and the bounded-round
    * contract is mirrored 1:1 by the oracle's chained CTEs. Costs are
    * integers on both engines, so min is exact; rounds after
    * stabilisation are no-ops. */
  def boundedSssp(s: SparkSession, d: String): DataFrame = {
    val pairs = orderPairs(Tables.lineitem(s, d))
      .groupBy(col("u"), col("v")).agg(count_distinct(col("o")).as("cnt"))
      .select(col("u"), col("v"), expr("1000000 div cnt").as("cost"))
    boundedSsspOf(pairs, nSeeds = 4, rounds = 3)
      .orderBy(col("seed"), col("node"))
  }

  /** [[boundedSssp]] over an explicit weighted `(u, v, cost)` frame. */
  private[graft] def boundedSsspOf(wEdges: DataFrame, nSeeds: Int, rounds: Int): DataFrame = {
    // static dim reused by every round — the documented bare-checkpoint
    // exception (nothing loop-carried flows through it)
    val edges = wEdges.select(col("u"), col("v"), col("cost"))
      .union(wEdges.select(col("v").as("u"), col("u").as("v"), col("cost")))
      .localCheckpoint()
    val seeds = lowestNodes(edges, nSeeds)
    var dist = seeds.select(col("node").as("seed"), col("node"),
      lit(0L).as("c")).localCheckpoint()
    var i = 0
    while (i < rounds) {
      val relax = dist.select(col("seed"), col("node").as("fu"), col("c"))
        .join(edges, col("fu") === col("u"))
        .select(col("seed"), col("v").as("node"), (col("c") + col("cost")).as("c"))
      dist = graft.core.Iterate.save(
        dist.unionByName(relax)
          .groupBy(col("seed"), col("node")).agg(min(col("c")).as("c")), 0, i)
      i += 1
    }
    dist.select(col("seed"), col("node"), col("c").as("cost"))
  }

  val boundedSsspSql: String = {
    val rounds = (1 to 3).map { k =>
      s"""d$k AS (
         |  SELECT seed, node, min(c) AS c FROM (
         |    SELECT seed, node, c FROM d${k - 1}
         |    UNION ALL
         |    SELECT d.seed, e.v AS node, d.c + e.cost AS c
         |    FROM d${k - 1} d JOIN e ON e.u = d.node)
         |  GROUP BY seed, node)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v,
      |    1000000 // count(DISTINCT a.l_orderkey) AS cost
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY a.l_partkey, b.l_partkey),
      |e AS (SELECT u, v, cost FROM pairs
      |      UNION ALL SELECT v, u, cost FROM pairs),
      |seeds AS (SELECT DISTINCT u AS node FROM e ORDER BY node LIMIT 4),
      |d0 AS (SELECT node AS seed, node, CAST(0 AS BIGINT) AS c FROM seeds),
      |$rounds
      |SELECT seed, node, CAST(c AS BIGINT) AS cost
      |FROM d3 ORDER BY seed, node""".stripMargin
  }

  /** g46 — TRIAD CENSUS (undirected): how many node triples are empty /
    * one-edge / wedge (path-of-2) / triangle — the 4-bin profile whose
    * wedge:triangle ratio IS the global clustering coefficient and
    * whose one-edge mass measures sparsity, all WITHOUT enumerating
    * triples: every bin has a closed form in |V|, |E|, the degree
    * second moment and the triangle count (W = Σ C(d,2) wedges;
    * triangles from the once-oriented plan; one-edge = E(V−2) −
    * 2(W−3T) − 3T; empty = C(V,3) − rest). The engine computes the
    * moments map-side and the oracle restates the same closed forms
    * from scratch — counting C(V,3) triples at 100 TB is impossible,
    * which is exactly why the closed form is the operator. */
  def triadCensus(s: SparkSession, d: String): DataFrame =
    triadCensusOf(edges(s, d).distinct())

  /** [[triadCensus]] over an explicit DISTINCT `(u, v)` edge frame. */
  private[graft] def triadCensusOf(pairs: DataFrame): DataFrame = {
    val p = pairs.localCheckpoint() // scanned by degrees AND triangles
    val deg = Query.degrees(p)
    val moments = deg.agg(count(lit(1)).as("nv"),
      coalesce(sum(col("deg")), lit(0L)).as("sum_d"),
      coalesce(sum(expr("(deg * (deg - 1)) div 2")), lit(0L)).as("wedges"))
    val o = Query.orient(p, deg).localCheckpoint()
    val tri = Query.triangles(o).agg(count(lit(1)).as("tri"))
    moments.crossJoin(tri) // two 1-row frames
      .select(col("nv"), expr("sum_d div 2").as("ne"),
        col("wedges"), col("tri"))
      .select(col("nv"), col("ne"), col("tri").as("n_triangle"),
        (col("wedges") - col("tri") * 3).as("n_wedge"),
        (col("ne") * (col("nv") - 2) - (col("wedges") - col("tri") * 3) * 2
          - col("tri") * 3).as("n_one_edge"))
      .withColumn("n_empty",
        expr("(nv * (nv - 1) * (nv - 2)) div 6")
          - col("n_triangle") - col("n_wedge") - col("n_one_edge"))
  }

  val triadCensusSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (
      |  SELECT id, count(*) AS deg
      |  FROM (SELECT u AS id FROM pairs UNION ALL SELECT v FROM pairs)
      |  GROUP BY id),
      |m AS (
      |  SELECT count(*) AS nv, CAST(sum(deg) AS BIGINT) // 2 AS ne,
      |    CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS wedges
      |  FROM deg),
      |o AS (
      |  SELECT CASE WHEN (da.deg, p.u) < (db.deg, p.v) THEN p.u ELSE p.v END AS s,
      |         CASE WHEN (da.deg, p.u) < (db.deg, p.v) THEN p.v ELSE p.u END AS t
      |  FROM pairs p JOIN deg da ON da.id = p.u JOIN deg db ON db.id = p.v),
      |t AS (
      |  SELECT count(*) AS tri FROM o x
      |  JOIN o y ON x.s = y.s AND x.t != y.t
      |  JOIN o z ON z.s = x.t AND z.t = y.t)
      |SELECT nv, ne, tri AS n_triangle,
      |  wedges - 3 * tri AS n_wedge,
      |  ne * (nv - 2) - 2 * (wedges - 3 * tri) - 3 * tri AS n_one_edge,
      |  nv * (nv - 1) * (nv - 2) // 6 - tri - (wedges - 3 * tri)
      |    - (ne * (nv - 2) - 2 * (wedges - 3 * tri) - 3 * tri) AS n_empty
      |FROM m CROSS JOIN t""".stripMargin

  /** g47 — MODULARITY of the g23 LPA communities, exactly: Newman's
    * Q = Σ_c (e_c/m − (d_c/2m)²) carried as the INTEGER numerator
    * q·4m² = Σ_c (4m·e_c − d_c²) per community, so "did the clustering
    * beat random wiring" becomes an exact cross-engine number instead
    * of a float (Q itself = Σ q_x4m2 / 4m² downstream). Communities
    * come from the same bounded-round LPA the g23 oracle unrolls; e_c
    * is one label-equijoin over the edge list, d_c one join of the
    * degree table — nothing beyond the shuffles g23 already pays.
    * The measured answer to "was LPA any good here", which no gate so
    * far stated. */
  def modularity(s: SparkSession, d: String): DataFrame =
    modularityOf(edges(s, d).distinct(), iterations = 3).orderBy(col("label"))

  /** [[modularity]] over an explicit DISTINCT `(u, v)` edge frame. */
  private[graft] def modularityOf(pairs: DataFrame, iterations: Int): DataFrame = {
    val p = pairs.localCheckpoint() // scanned by LPA, degrees and e_c
    val labels = Query.labelPropagation(p, iterations)
      .select(col("id"), col("label")).localCheckpoint()
    val deg = Query.degrees(p)
    val ec = p
      .join(labels.select(col("id").as("u"), col("label").as("lu")), "u")
      .join(labels.select(col("id").as("v"), col("label").as("lv")), "v")
      .where(col("lu") === col("lv"))
      .groupBy(col("lu").as("label")).agg(count(lit(1)).as("e_in"))
    val dc = labels.join(deg, "id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("d_sum"))
    val m = p.agg(count(lit(1)).as("m"))
    dc.join(ec, Seq("label"), "left")
      .crossJoin(broadcast(m))
      .select(col("label"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_sum"),
        (lit(4L) * col("m") * coalesce(col("e_in"), lit(0L))
          - col("d_sum") * col("d_sum")).as("q_x4m2"))
  }

  val modularitySql: String = {
    def round(prev: String, cur: String) =
      s"""$cur AS (
         |  SELECT node AS id, label FROM (
         |    SELECT a.node, l.label,
         |      row_number() OVER (PARTITION BY a.node
         |        ORDER BY count(*) DESC, l.label ASC) AS rn
         |    FROM adj a JOIN $prev l ON l.id = a.nbr
         |    GROUP BY a.node, l.label) WHERE rn = 1)""".stripMargin
    s"""WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |adj AS (SELECT u AS node, v AS nbr FROM pairs
      |        UNION ALL SELECT v, u FROM pairs),
      |l0 AS (SELECT DISTINCT node AS id, node AS label FROM adj),
      |${round("l0", "l1")},
      |${round("l1", "l2")},
      |${round("l2", "l3")},
      |deg AS (SELECT node AS id, count(*) AS deg FROM adj GROUP BY node),
      |ec AS (
      |  SELECT la.label, count(*) AS e_in
      |  FROM pairs p JOIN l3 la ON la.id = p.u JOIN l3 lb ON lb.id = p.v
      |  WHERE la.label = lb.label GROUP BY la.label),
      |dc AS (
      |  SELECT l.label, count(*) AS n_nodes, CAST(sum(d.deg) AS BIGINT) AS d_sum
      |  FROM l3 l JOIN deg d ON d.id = l.id GROUP BY l.label),
      |m AS (SELECT count(*) AS m FROM pairs)
      |SELECT dc.label, dc.n_nodes,
      |  CAST(coalesce(ec.e_in, 0) AS BIGINT) AS e_in, dc.d_sum,
      |  CAST(4 * m.m * coalesce(ec.e_in, 0) - dc.d_sum * dc.d_sum AS BIGINT)
      |    AS q_x4m2
      |FROM dc LEFT JOIN ec ON ec.label = dc.label CROSS JOIN m
      |ORDER BY dc.label""".stripMargin
  }

  /** g49 — PSEUDO-DIAMETER by DOUBLE BFS SWEEP (the Magnien–Latapy–
    * Habib lower-bound heuristic): BFS from the lowest node id, take the
    * farthest node reached (max dist, tie-broken to the lowest id), BFS
    * again from there — sweep 2's eccentricity is a certified LOWER
    * bound on the graph diameter, the number that sizes iteration
    * budgets for every bounded traversal in this module (g42/g45's
    * round caps, CC's convergence depth). Both sweeps are bounded at
    * [[BfsMaxDist]] rounds mirrored 1:1 by the oracle's two unrolled CTE
    * chains (the bounded-round-oracle rule), so on graphs wider than the
    * cap the result is the honest "eccentricity within k hops". Output
    * is two rows (sweep, source, farthest, ecc, n_reached). Everything
    * stays lazy frames — the argmax is a 1-row orderBy/limit, the reach
    * count a 1-row aggregate cross-joined on (the documented 1-row
    * pattern), never a driver collect. */
  def pseudoDiameter(s: SparkSession, d: String): DataFrame =
    pseudoDiameterOf(edges(s, d).distinct(), BfsMaxDist)

  /** [[pseudoDiameter]] over an explicit DISTINCT `(u, v)` edge frame. */
  private[graft] def pseudoDiameterOf(pairs: DataFrame, maxDist: Int): DataFrame = {
    val edges = symmetric(pairs).localCheckpoint() // static dim probed by both sweeps
    val first = lowestNodes(edges, 1)
    val v1 = bfsVisited(edges, first, maxDist)
    val far1 = v1.orderBy(col("dist").desc, col("node").asc).limit(1)
      .localCheckpoint() // seeds sweep 2 AND labels the output row
    val v2 = bfsVisited(edges, far1.select(col("node")), maxDist)
    val far2 = v2.orderBy(col("dist").desc, col("node").asc).limit(1)
    def row(sweepNo: Int, v: DataFrame, far: DataFrame): DataFrame =
      far.select(lit(sweepNo.toLong).as("sweep"), col("seed").as("source"),
          col("node").as("farthest"), col("dist").cast("long").as("ecc"))
        .crossJoin(v.agg(count(lit(1)).as("n_reached"))) // 1-row × 1-row
    row(1, v1, far1).unionByName(row(2, v2, far2)).orderBy(col("sweep"))
  }

  val pseudoDiameterSql: String = {
    // two unrolled chains, the second seeded by the first's argmax; every
    // per-round CTE is MATERIALIZED — the NOT EXISTS + UNION structure
    // references each v_{k-1} twice, so inlining across a DOUBLE chain
    // would expand the base scan 2^(2k) times (observed as fd exhaustion)
    def chain(sfx: String, k: Int): String =
      s"""f${k}_$sfx AS MATERIALIZED (
         |  SELECT DISTINCT f.seed, e.v AS node
         |  FROM f${k - 1}_$sfx f JOIN e ON e.u = f.node
         |  WHERE NOT EXISTS (SELECT 1 FROM v${k - 1}_$sfx p
         |                    WHERE p.seed = f.seed AND p.node = e.v)),
         |v${k}_$sfx AS MATERIALIZED (SELECT * FROM v${k - 1}_$sfx
         |        UNION ALL SELECT seed, node, $k AS dist FROM f${k}_$sfx)""".stripMargin
    val k = BfsMaxDist
    val c1 = (1 to k).map(chain("a", _)).mkString(",\n")
    val c2 = (1 to k).map(chain("b", _)).mkString(",\n")
    s"""WITH pairs AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |e AS MATERIALIZED (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
      |s1 AS (SELECT min(u) AS node FROM e WHERE u IS NOT NULL),
      |v0_a AS (SELECT node AS seed, node, 0 AS dist FROM s1 WHERE node IS NOT NULL),
      |f0_a AS (SELECT seed, node FROM v0_a),
      |$c1,
      |far1 AS (SELECT seed, node, dist FROM v${k}_a ORDER BY dist DESC, node ASC LIMIT 1),
      |v0_b AS (SELECT node AS seed, node, 0 AS dist FROM far1),
      |f0_b AS (SELECT seed, node FROM v0_b),
      |$c2,
      |far2 AS (SELECT seed, node, dist FROM v${k}_b ORDER BY dist DESC, node ASC LIMIT 1),
      |n1 AS (SELECT count(*) AS n_reached FROM v${k}_a),
      |n2 AS (SELECT count(*) AS n_reached FROM v${k}_b)
      |SELECT CAST(sweep AS BIGINT) AS sweep, source, farthest,
      |  CAST(ecc AS BIGINT) AS ecc, CAST(n_reached AS BIGINT) AS n_reached
      |FROM (
      |  SELECT 1 AS sweep, seed AS source, node AS farthest, dist AS ecc, n_reached
      |  FROM far1 CROSS JOIN n1
      |  UNION ALL
      |  SELECT 2, seed, node, dist, n_reached FROM far2 CROSS JOIN n2)
      |ORDER BY sweep""".stripMargin
  }

  /** g50 — LOCAL BIPARTITENESS CHECK / ODD-CYCLE WITNESS COUNT on BFS
    * balls: from each of the 4 lowest-id seeds over the co-order part
    * graph, BFS to [[BfsMaxDist]] hops, 2-color the ball by distance
    * parity, then count the edges whose endpoints land on the SAME
    * parity — each such edge closes an odd cycle through the BFS tree,
    * so `n_conflict = 0` certifies the induced ball subgraph bipartite
    * and `n_conflict > 0` counts independent odd-cycle witnesses (every
    * edge of the induced subgraph spans adjacent-or-equal layers, so an
    * odd cycle must contain a same-parity edge — the parity coloring IS
    * the bipartiteness test). This is the 2-colorability audit identity
    * pipelines run on "same-as" equivalence neighborhoods: a conflict
    * edge is a concrete curation-error witness. One bounded BFS (the
    * g42 building block, per-round frontier⋈edges equi-joins through
    * the stats-clamped `Iterate.save`) plus ONE edge⋈visited⋈visited
    * equi-join probe — never per-seed traversals, never all-pairs;
    * the probe is keyed by vertex so 100× data is 100× probe rows. */
  def bipartiteCheck(s: SparkSession, d: String): DataFrame =
    bipartiteCheckOf(edges(s, d).distinct(), nSeeds = 4, maxDist = BfsMaxDist)
      .orderBy(col("seed"))

  /** [[bipartiteCheck]] over an explicit DISTINCT `(u, v)` (u < v) edge
    * frame — property-tested on hand graphs (even cycle → bipartite,
    * triangle → one witness) and fuzzed against a local 2-coloring. */
  private[graft] def bipartiteCheckOf(pairs: DataFrame, nSeeds: Int,
                                      maxDist: Int): DataFrame = {
    val edges = symmetric(pairs).localCheckpoint() // static dim: BFS rounds reuse it
    val seeds = lowestNodes(edges, nSeeds)
    // read 3×: parity counts + both sides of the conflict probe
    val visited = bfsVisited(edges, seeds, maxDist).localCheckpoint()
    val parity = visited.groupBy("seed").agg(
      sum(when(col("dist") % 2 === 0, 1L).otherwise(0L)).as("n_even"),
      sum(when(col("dist") % 2 === 1, 1L).otherwise(0L)).as("n_odd"))
    // pairs is u < v by construction → each undirected edge counted once
    val ballEdges = pairs
      .join(visited.select(col("seed"), col("node").as("u"),
        col("dist").as("du")), Seq("u"))
      .join(visited.select(col("seed"), col("node").as("v"),
        col("dist").as("dv")), Seq("seed", "v"))
    val conflicts = ballEdges.groupBy("seed").agg(
      count(lit(1)).as("n_ball_edges"),
      sum(when((col("du") + col("dv")) % 2 === 0, 1L).otherwise(0L))
        .as("n_conflict"))
    parity.join(conflicts, Seq("seed"), "left")
      .select(col("seed"), col("n_even"), col("n_odd"),
        coalesce(col("n_ball_edges"), lit(0L)).as("n_ball_edges"),
        coalesce(col("n_conflict"), lit(0L)).as("n_conflict"))
      .withColumn("bipartite",
        when(col("n_conflict") === 0, 1L).otherwise(0L))
  }

  val bipartiteCheckSql: String = {
    // the g42 unrolled chain (MATERIALIZED — v4 is referenced three
    // times below; inlining would re-expand the whole BFS per use)
    val rounds = (1 to BfsMaxDist).map { k =>
      s"""f$k AS MATERIALIZED (
         |  SELECT DISTINCT f.seed, e.v AS node
         |  FROM f${k - 1} f JOIN e ON e.u = f.node
         |  WHERE NOT EXISTS (SELECT 1 FROM v${k - 1} p
         |                    WHERE p.seed = f.seed AND p.node = e.v)),
         |v$k AS MATERIALIZED (SELECT * FROM v${k - 1}
         |        UNION ALL SELECT seed, node, $k AS dist FROM f$k)""".stripMargin
    }.mkString(",\n")
    val k = BfsMaxDist
    s"""WITH pairs AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |e AS MATERIALIZED (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
      |seeds AS (SELECT DISTINCT u AS node FROM e ORDER BY node LIMIT 4),
      |v0 AS (SELECT node AS seed, node, 0 AS dist FROM seeds),
      |f0 AS (SELECT seed, node FROM v0),
      |$rounds,
      |par AS (
      |  SELECT seed,
      |    sum(CASE WHEN dist % 2 = 0 THEN 1 ELSE 0 END) AS n_even,
      |    sum(CASE WHEN dist % 2 = 1 THEN 1 ELSE 0 END) AS n_odd
      |  FROM v$k GROUP BY seed),
      |conf AS (
      |  SELECT a.seed, count(*) AS n_ball_edges,
      |    sum(CASE WHEN (a.dist + b.dist) % 2 = 0 THEN 1 ELSE 0 END) AS n_conflict
      |  FROM pairs p
      |  JOIN v$k a ON a.node = p.u
      |  JOIN v$k b ON b.seed = a.seed AND b.node = p.v
      |  GROUP BY a.seed)
      |SELECT par.seed,
      |  CAST(n_even AS BIGINT) AS n_even, CAST(n_odd AS BIGINT) AS n_odd,
      |  CAST(COALESCE(n_ball_edges, 0) AS BIGINT) AS n_ball_edges,
      |  CAST(COALESCE(n_conflict, 0) AS BIGINT) AS n_conflict,
      |  CAST(CASE WHEN COALESCE(n_conflict, 0) = 0 THEN 1 ELSE 0 END AS BIGINT) AS bipartite
      |FROM par LEFT JOIN conf ON conf.seed = par.seed
      |ORDER BY par.seed""".stripMargin
  }

  /** g51 — HASH-PARTITION EDGE-CUT PROFILE: for each candidate
    * parallelism k ∈ {2, 4, 8, 16, 32}, the fraction of co-order edges
    * whose endpoints hash to different partitions (`u % k ≠ v % k`)
    * plus the node-balance of the largest partition — THE two numbers
    * that decide a distributed graph job's layout before it runs: cut
    * fraction is the share of messages crossing the wire per
    * iteration (PageRank/LPA/BFS traffic at parallelism k), balance is
    * the straggler bound; together with g40's degree spectrum they are
    * the measured inputs to the partition-vs-broadcast decision this
    * module's iterative operators take on faith. Pure closed form: one
    * pass over the edge list per k (a map-side flag sum — the five k
    * values ride ONE unpivoted aggregation), one over the node set;
    * nothing iterative, nothing all-pairs. `max_part_nodes` uses the
    * value-bucket max (no per-partition sort); ppm is exact integer. */
  def partitionEdgeCut(s: SparkSession, d: String): DataFrame =
    partitionEdgeCutOf(edges(s, d).distinct(), Seq(2, 4, 8, 16, 32)).orderBy(col("k"))

  /** [[partitionEdgeCut]] over an explicit DISTINCT `(u, v)` edge frame
    * — property-tested on hand graphs where the cut is countable by
    * eye and fuzzed against a local recount. */
  private[graft] def partitionEdgeCutOf(pairs: DataFrame, ks: Seq[Int]): DataFrame = {
    import pairs.sparkSession.implicits._
    val kDf = ks.map(_.toLong).toDF("k")
    val nodes = pairs.select(col("u").as("n"))
      .union(pairs.select(col("v").as("n"))).distinct()
    val cuts = pairs.crossJoin(broadcast(kDf))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_edges"),
        sum(when(col("u") % col("k") =!= col("v") % col("k"), 1L).otherwise(0L))
          .as("n_cut"))
    val parts = nodes.crossJoin(broadcast(kDf))
      .groupBy(col("k"), (col("n") % col("k")).as("part"))
      .agg(count(lit(1)).as("pn"))
      .groupBy(col("k"))
      .agg(max(col("pn")).as("max_part_nodes"),
        count(lit(1)).as("n_parts_nonempty"))
    cuts.join(parts, "k")
      .withColumn("cut_ppm", expr("(1000000 * n_cut) div n_edges"))
      .select(col("k"), col("n_edges"), col("n_cut"), col("cut_ppm"),
        col("max_part_nodes"), col("n_parts_nonempty"))
  }

  val partitionEdgeCutSql: String =
    """WITH pairs AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |ks AS (SELECT CAST(k AS BIGINT) AS k FROM (VALUES (2), (4), (8), (16), (32)) t(k)),
      |nodes AS (SELECT DISTINCT n FROM (
      |  SELECT u AS n FROM pairs UNION ALL SELECT v FROM pairs)),
      |cuts AS (
      |  SELECT k, count(*) AS n_edges,
      |    CAST(sum(CASE WHEN u % k <> v % k THEN 1 ELSE 0 END) AS BIGINT) AS n_cut
      |  FROM pairs CROSS JOIN ks GROUP BY k),
      |parts AS (
      |  SELECT k, CAST(max(pn) AS BIGINT) AS max_part_nodes,
      |    count(*) AS n_parts_nonempty
      |  FROM (SELECT k, n % k AS part, count(*) AS pn
      |        FROM nodes CROSS JOIN ks GROUP BY 1, 2)
      |  GROUP BY k)
      |SELECT cuts.k, n_edges, n_cut,
      |  CAST((1000000 * n_cut) // n_edges AS BIGINT) AS cut_ppm,
      |  max_part_nodes, n_parts_nonempty
      |FROM cuts JOIN parts ON parts.k = cuts.k
      |ORDER BY cuts.k""".stripMargin

  /** g52 — LANDMARK DISTANCE ORACLE (the ALT / landmark-embedding
    * index): distances from 4 landmark nodes to everything within
    * [[BfsMaxDist]] hops are precomputed ONCE (the g42 bounded
    * multi-source BFS — k landmarks ride one frame), and any pairwise
    * distance query is then answered from the index alone as
    * est(u, v) = min_l d(u, l) + d(l, v) — a triangle-inequality UPPER
    * bound, no per-query traversal. This is how 100 TB graphs serve
    * "how far apart are these two entities" interactively: the index
    * build is the only BFS, and a query is a k-row lookup join — here
    * materialised for the 10 lowest-id probe nodes' pairs, each with
    * its witness landmark (deterministic (sum, landmark) tie-break)
    * and the count of landmarks covering the pair. Pairs outside every
    * landmark's ball are honestly absent (no bound exists within the
    * hop cap). The spec pins est ≥ true distance (upper-bound
    * soundness) and exactness whenever a landmark sits ON a shortest
    * path. */
  def landmarkDistances(s: SparkSession, d: String): DataFrame =
    landmarkDistancesOf(edges(s, d).distinct(), nLandmarks = 4, nProbe = 10,
        maxDist = BfsMaxDist)
      .orderBy(col("u"), col("v"))

  /** [[landmarkDistances]] over an explicit DISTINCT `(u, v)` edge
    * frame. */
  private[graft] def landmarkDistancesOf(pairs: DataFrame, nLandmarks: Int,
      nProbe: Int, maxDist: Int): DataFrame = {
    val edges = symmetric(pairs).localCheckpoint() // static dim: BFS rounds reuse it
    val landmarks = lowestNodes(edges, nLandmarks)
    val probe = lowestNodes(edges, nProbe)
    // the index: (landmark, node, dist) — read twice by the pair probe
    val pv = bfsVisited(edges, landmarks, maxDist)
      .join(probe, Seq("node"))
      .select(col("seed").as("l"), col("node"), col("dist"))
      .localCheckpoint()
    pv.as("x").join(pv.as("y"),
        col("x.l") === col("y.l") && col("x.node") < col("y.node"))
      .select(col("x.node").as("u"), col("y.node").as("v"), col("x.l").as("l"),
        (col("x.dist") + col("y.dist")).cast("long").as("s"))
      .groupBy(col("u"), col("v"))
      .agg(min(struct(col("s"), col("l"))).as("m"),
        count(lit(1)).as("n_landmarks"))
      .select(col("u"), col("v"), col("m.s").as("est"),
        col("m.l").as("via_landmark"), col("n_landmarks"))
  }

  val landmarkDistancesSql: String = {
    val rounds = (1 to BfsMaxDist).map { k =>
      s"""f$k AS MATERIALIZED (
         |  SELECT DISTINCT f.seed, e.v AS node
         |  FROM f${k - 1} f JOIN e ON e.u = f.node
         |  WHERE NOT EXISTS (SELECT 1 FROM v${k - 1} p
         |                    WHERE p.seed = f.seed AND p.node = e.v)),
         |v$k AS MATERIALIZED (SELECT * FROM v${k - 1}
         |        UNION ALL SELECT seed, node, $k AS dist FROM f$k)""".stripMargin
    }.mkString(",\n")
    val k = BfsMaxDist
    s"""WITH pairs AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |e AS MATERIALIZED (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
      |seeds AS (SELECT DISTINCT u AS node FROM e ORDER BY node LIMIT 4),
      |v0 AS (SELECT node AS seed, node, 0 AS dist FROM seeds),
      |f0 AS (SELECT seed, node FROM v0),
      |$rounds,
      |probe AS (SELECT DISTINCT u AS node FROM e ORDER BY node LIMIT 10),
      |pv AS (SELECT seed AS l, v$k.node, dist FROM v$k JOIN probe USING (node)),
      |cand AS (
      |  SELECT x.node AS u, y.node AS v, x.l AS l,
      |    CAST(x.dist + y.dist AS BIGINT) AS s
      |  FROM pv x JOIN pv y ON y.l = x.l AND x.node < y.node),
      |ranked AS (
      |  SELECT u, v, l, s,
      |    row_number() OVER (PARTITION BY u, v ORDER BY s ASC, l ASC) AS rn,
      |    count(*) OVER (PARTITION BY u, v) AS n_landmarks
      |  FROM cand)
      |SELECT u, v, s AS est, l AS via_landmark,
      |  CAST(n_landmarks AS BIGINT) AS n_landmarks
      |FROM ranked WHERE rn = 1 ORDER BY u, v""".stripMargin
  }

  override val defs: ListMap[String, QueryDef] = ListMap(
    "g19_triangles"       -> QueryDef(triangles, Some(trianglesSql)),
    "g23_label_propagation" -> QueryDef(labelPropagation, Some(labelPropagationSql)),
    "g30_ktruss"       -> QueryDef(kTruss, Some(kTrussSql)),
    "g31_ktruss_sweep" -> QueryDef(kTrussSweep, Some(kTrussSweepSql)),
    "g32_triangles_sampled" -> QueryDef(trianglesSampled, Some(trianglesSampledSql)),
    "g33_weighted_lpa" -> QueryDef(weightedLabelPropagation, Some(weightedLabelPropagationSql)),
    "g34_coreness"     -> QueryDef(corenessHIndex, Some(corenessHIndexSql)),
    "g37_local_clustering" -> QueryDef(localClusteringCoeff, Some(localClusteringCoeffSql)),
    "g38_random_walks" -> QueryDef(randomWalks, Some(randomWalksSql)),
    "g39_assortativity" -> QueryDef(assortativity, Some(assortativitySql)),
    "g40_degree_spectrum" -> QueryDef(degreeSpectrum, Some(degreeSpectrumSql)),
    "g41_rich_club" -> QueryDef(richClub, Some(richClubSql)),
    "g42_bfs_layers" -> QueryDef(bfsLayers, Some(bfsLayersSql)),
    "g43_katz_walks" -> QueryDef(katzWalks, Some(katzWalksSql)),
    "g44_edge_embeddedness" -> QueryDef(edgeEmbeddedness, Some(edgeEmbeddednessSql)),
    "g45_bounded_sssp" -> QueryDef(boundedSssp, Some(boundedSsspSql)),
    "g46_triad_census" -> QueryDef(triadCensus, Some(triadCensusSql)),
    "g47_modularity" -> QueryDef(modularity, Some(modularitySql)),
    "g49_pseudo_diameter" -> QueryDef(pseudoDiameter, Some(pseudoDiameterSql)),
    "g50_bipartite_check" -> QueryDef(bipartiteCheck, Some(bipartiteCheckSql)),
    "g51_partition_edgecut" -> QueryDef(partitionEdgeCut, Some(partitionEdgeCutSql)),
    "g52_landmark_distances" -> QueryDef(landmarkDistances, Some(landmarkDistancesSql)),
  )
}
