package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Link-graph analytics beyond PageRank (q119): exact triangle counting and
  * co-purchase similarity over graphs DERIVED from the relational tables —
  * the "build the graph as a DataFrame, keep every join on a vertex key"
  * tier. No reference counterpart (SURVEY §2.C last rows).
  *
  * Scale stances, explicitly:
  *   - q136 is the degree-oriented distributed triangle count: every edge is
  *     oriented from its (degree, id)-smaller endpoint to the larger, which
  *     turns the graph into a DAG whose max out-degree is O(√E) — so the
  *     wedge join (the only superlinear step) does Σ_v C(outdeg(v), 2) work
  *     with a provably bounded per-key fanout, instead of Σ C(deg, 2) which
  *     a hub vertex makes quadratic. All three joins are equi-joins on
  *     vertex keys.
  *   - q137 caps posting lists BEFORE pairing (the stop-item cut every
  *     co-occurrence miner at scale applies): a part bought by more than
  *     `CopurchaseCap` customers is excluded, bounding per-part pair fanout
  *     at C(cap, 2) and making total work linear in the incidence count at
  *     fixed cap. The dropped-part count is surfaced in the result, not
  *     silently swallowed.
  */
object Graph {
  import Tables._

  /** q136: exact triangle count over the co-ordered-parts graph (two parts
    * are adjacent iff they co-occur in at least [[TriangleSupport]] orders).
    * Per-order pair fanout is bounded by the order's line count (≤ 13 in
    * TPC-H), so edge generation is linear in lineitems; the rest is the
    * oriented wedge-close algorithm. One row: graph size, wedge count,
    * triangle count.
    *
    * The support threshold is the standard market-basket noise cut, and it
    * is also the SCALE decision: single-co-occurrence "edges" grow with
    * corpus size (every big order mints C(lines,2) of them — 1.2M edges at
    * sf0.1, 335× the support-2 graph) and carry no signal a triangle over
    * them would mean anything; thresholding at edge-aggregation time keeps
    * the wedge stage sized by REPEATED co-purchases, which is the graph a
    * recommender actually mines.
    */
  private val TriangleSupport = 2

  /** Per-basket co-occurrence pairs (a < b): one row per (basket, pair).
    * r14 shape — the r13 form was `distinct` + self-join on the basket
    * key + pair rollup, i.e. THREE exchanges of the incidence table (one
    * for distinct, one per join side; the join sides shared one exchange)
    * plus a hash-join build. Grouping each basket once and expanding its
    * sorted distinct item set in-row (bounded fanout: C(basket width, 2),
    * ≤ C(13,2) in TPC-H-shaped data — the same bound the self-join had)
    * needs ONE exchange before the pair rollup and no join at all
    * (guide §2.4, remove shuffles outright). Same pair multiset as the
    * self-join: collect_set == the distinct, (i < j over the sorted set)
    * == the `x.p < y.p` predicate — identical counts, so every support
    * filter downstream sees identical ints. Callers pass the RAW
    * incidence frame (no pre-distinct needed).
    */
  private def basketPairs(inc: DataFrame): DataFrame = inc
    .groupBy(col("o")).agg(sort_array(collect_set(col("p"))).as("ps"))
    .select(explode(expr(
      """flatten(transform(ps, (x, i) ->
         transform(slice(ps, i + 2, size(ps)),
           y -> named_struct('a', x, 'b', y))))""")).as("e"))
    .select(col("e.a").as("a"), col("e.b").as("b"))

  /** The support-thresholded co-purchase edge list (a < b) shared by the
    * whole graph tier: per-basket pairs rolled up, kept at support ≥
    * `minSupport`. */
  private def supportPairs(s: SparkSession, d: String,
      minSupport: Int): DataFrame =
    basketPairs(lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)

  /** q136: exact triangle count of the co-ordered-parts graph by the oriented
    * wedge-close algorithm. */
  private def q136(s: SparkSession, d: String): DataFrame = {
    val e = supportPairs(s, d, TriangleSupport).select(col("a"), col("b"))
    val deg = e.select(col("a").as("v"))
      .union(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    // orient each edge toward the (deg, id)-larger endpoint; carry the
    // destination's order key so the wedge join can order its two legs by
    // the SAME total order the orientation used
    val orient = e
      .join(deg.as("da"), col("a") === col("da.v"))
      .join(deg.as("db"), col("b") === col("db.v"))
      .select(
        when(struct(col("da.deg"), col("a")) < struct(col("db.deg"), col("b")),
          struct(col("a").as("src"), col("b").as("dst"),
            col("db.deg").as("ddeg")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"),
            col("da.deg").as("ddeg"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.ddeg").as("ddeg"))
    val wedges = orient.as("e1")
      .join(orient.as("e2"),
        col("e1.src") === col("e2.src") &&
          struct(col("e1.ddeg"), col("e1.dst")) <
            struct(col("e2.ddeg"), col("e2.dst")))
      .select(col("e1.dst").as("v"), col("e2.dst").as("w"))
    val nTri = wedges
      .join(orient.as("e3"),
        col("v") === col("e3.src") && col("w") === col("e3.dst"), "left_semi")
    val stats = e.agg(count(lit(1)).as("n_edges"))
      .withColumn("jk", pmod(col("n_edges"), lit(1)))
    deg.agg(count(lit(1)).as("n_nodes"))
      .withColumn("jk", pmod(col("n_nodes"), lit(1)))
      .join(broadcast(stats), Seq("jk"))
      .join(broadcast(wedges.agg(count(lit(1)).as("n_wedges"))
        .withColumn("jk", pmod(col("n_wedges"), lit(1)))), Seq("jk"))
      .join(broadcast(nTri.agg(count(lit(1)).as("n_triangles"))
        .withColumn("jk", pmod(col("n_triangles"), lit(1)))), Seq("jk"))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"))
  }

  private val o136 = s"""
    WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                FROM lineitem),
    e AS MATERIALIZED (SELECT x.p AS a, y.p AS b
          FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
          GROUP BY x.p, y.p HAVING count(*) >= $TriangleSupport),
    deg AS MATERIALIZED (SELECT v, count(*) AS deg
            FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
            GROUP BY v),
    orient AS MATERIALIZED (
      SELECT CASE WHEN (da.deg, a) < (db.deg, b) THEN a ELSE b END AS src,
             CASE WHEN (da.deg, a) < (db.deg, b) THEN b ELSE a END AS dst,
             CASE WHEN (da.deg, a) < (db.deg, b) THEN db.deg ELSE da.deg END
               AS ddeg
      FROM e JOIN deg da ON da.v = a JOIN deg db ON db.v = b),
    wedges AS MATERIALIZED (
      SELECT e1.dst AS v, e2.dst AS w
      FROM orient e1 JOIN orient e2
        ON e1.src = e2.src AND (e1.ddeg, e1.dst) < (e2.ddeg, e2.dst)),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM wedges WHERE EXISTS (SELECT 1 FROM orient e3
                                WHERE e3.src = v AND e3.dst = w))
    SELECT (SELECT count(*) FROM deg) AS n_nodes,
           (SELECT count(*) FROM e) AS n_edges,
           (SELECT count(*) FROM wedges) AS n_wedges,
           (SELECT n_triangles FROM tri) AS n_triangles"""

  /** q137: co-purchase customer similarity — the item-based collaborative-
    * filtering kernel: customers are similar when their purchased-part sets
    * overlap. Pairs are generated per part (posting-list self-join), with
    * parts above the popularity cap excluded up front; overlap counts then
    * roll up per customer pair and Jaccard comes from the per-customer set
    * sizes. Top 20 pairs by overlap.
    */
  private val CopurchaseCap = 40

  /** q137: co-purchase customer similarity, the top 20 customer pairs by
    * overlap of their purchased-part sets. */
  private def q137(s: SparkSession, d: String): DataFrame = {
    val inc = lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
    val pop = inc.groupBy(col("p")).agg(count(lit(1)).as("pop"))
    val kept = inc.join(pop.filter(col("pop") <= CopurchaseCap), Seq("p"))
    val nDropped = pop.filter(col("pop") > CopurchaseCap)
      .agg(count(lit(1)).as("n_parts_dropped"))
      .withColumn("jk", pmod(col("n_parts_dropped"), lit(1)))
    val sizes = inc.groupBy(col("c")).agg(count(lit(1)).as("sz"))
    // kept as the posting-list SELF-JOIN, not the basketPairs in-row
    // expansion: measured r14 (same-composition batches), the HOF
    // expansion at this grain (cap 40 → up to C(40,2) = 780 interpreted
    // struct allocations per part) ran ~1s SLOWER than the hash join it
    // replaced — the in-row form only wins at basket grain (≤ C(13,2))
    kept.as("x")
      .join(kept.as("y"), col("x.p") === col("y.p") && col("x.c") < col("y.c"))
      .groupBy(col("x.c").as("c1"), col("y.c").as("c2"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.as("za"), col("c1") === col("za.c"))
      .join(sizes.as("zb"), col("c2") === col("zb.c"))
      .withColumn("jk", pmod(col("n_shared"), lit(1)))
      .join(broadcast(nDropped), Seq("jk"))
      .select(col("c1"), col("c2"), col("n_shared"),
        round(col("n_shared").cast("double") /
          (col("za.sz") + col("zb.sz") - col("n_shared")), 6).as("jaccard"),
        col("n_parts_dropped"))
      .orderBy(col("n_shared").desc, col("c1"), col("c2"))
      .limit(20)
  }

  private val o137 = s"""
    WITH inc AS MATERIALIZED (SELECT DISTINCT o_custkey AS c, l_partkey AS p
                 FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    pop AS MATERIALIZED (SELECT p, count(*) AS pop FROM inc GROUP BY p),
    kept AS MATERIALIZED (SELECT inc.c, inc.p FROM inc JOIN pop USING (p)
             WHERE pop <= $CopurchaseCap),
    dropped AS (SELECT count(*) AS n_parts_dropped FROM pop
                WHERE pop > $CopurchaseCap),
    sizes AS MATERIALIZED (SELECT c, count(*) AS sz FROM inc GROUP BY c),
    pairs AS (
      SELECT x.c AS c1, y.c AS c2, count(*) AS n_shared
      FROM kept x JOIN kept y ON x.p = y.p AND x.c < y.c
      GROUP BY x.c, y.c)
    SELECT c1, c2, n_shared,
           round(CAST(n_shared AS DOUBLE) / (za.sz + zb.sz - n_shared), 6)
             AS jaccard,
           n_parts_dropped
    FROM pairs
    JOIN sizes za ON za.c = c1
    JOIN sizes zb ON zb.c = c2, dropped
    ORDER BY n_shared DESC, c1, c2 LIMIT 20"""

  private val RuleMinSupp = 3

  /** q188: association rules (market-basket support / confidence / lift) —
    * the Apriori 2-itemset readout over order baskets: for part pairs
    * co-occurring in >= $RuleMinSupp orders, both directed rules with
    * conf(a→b) = supp(ab)/supp(a) and the symmetric lift
    * supp(ab)·N / (supp(a)·supp(b)).
    *
    * Scale shape: pair generation self-joins on the BASKET key, so fanout
    * per basket row is C(basket size, 2) — bounded by order width, never
    * by item popularity (the safe join direction; an item-keyed pairing
    * would hub-explode on bestsellers, which is exactly what q137's
    * popularity cap exists to contain in the customer-grain graph). The
    * support filter runs BEFORE the rule expansion and the single-item
    * support join, so the expensive stages see only surviving pairs.
    */
  private def q188(s: SparkSession, d: String): DataFrame = {
    val inc = lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val nb = inc.select(col("o")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
      .withColumn("jk", pmod(col("n_baskets"), lit(1)))
    val isup = inc.groupBy(col("p")).agg(count(lit(1)).as("s_item"))
    val psup = basketPairs(inc)
      .groupBy(col("a").as("p1"), col("b").as("p2"))
      .agg(count(lit(1)).as("supp"))
      .filter(col("supp") >= RuleMinSupp)
    val rules = psup.select(col("p1").as("ante"), col("p2").as("cons"),
        col("supp"))
      .union(psup.select(col("p2").as("ante"), col("p1").as("cons"),
        col("supp")))
    rules
      .join(broadcast(isup.select(col("p").as("ante"),
        col("s_item").as("s_ante"))), Seq("ante"))
      .join(broadcast(isup.select(col("p").as("cons"),
        col("s_item").as("s_cons"))), Seq("cons"))
      .withColumn("jk", pmod(col("supp"), col("supp")))
      .join(broadcast(nb), Seq("jk"))
      .select(col("ante"), col("cons"), col("supp"),
        round(col("supp") / col("s_ante").cast("double"), 6)
          .as("confidence"),
        round(col("supp").cast("double") * col("n_baskets")
          / (col("s_ante").cast("double") * col("s_cons")), 6).as("lift"))
      .orderBy(col("supp").desc, col("ante"), col("cons"))
  }

  private val o188 = s"""
    WITH inc AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                 FROM lineitem),
    nb AS (SELECT count(DISTINCT o) AS n_baskets FROM inc),
    isup AS (SELECT p, count(*) AS s_item FROM inc GROUP BY p),
    psup AS (
      SELECT x.p AS p1, y.p AS p2, count(*) AS supp
      FROM inc x JOIN inc y ON x.o = y.o AND x.p < y.p
      GROUP BY x.p, y.p HAVING count(*) >= $RuleMinSupp),
    rules AS (
      SELECT p1 AS ante, p2 AS cons, supp FROM psup
      UNION ALL
      SELECT p2, p1, supp FROM psup)
    SELECT r.ante, r.cons, r.supp,
           round(r.supp / CAST(a.s_item AS DOUBLE), 6) AS confidence,
           round(CAST(r.supp AS DOUBLE) * nb.n_baskets
                 / (CAST(a.s_item AS DOUBLE) * c.s_item), 6) AS lift
    FROM rules r
    JOIN isup a ON a.p = r.ante
    JOIN isup c ON c.p = r.cons, nb
    ORDER BY r.supp DESC, r.ante, r.cons"""

  /** q282: single-source BFS shortest paths — the distance/reachability
    * primitive the graph tier lacked (q119 ranks, q97/q218 find components,
    * q136 counts triangles; none answers "how FAR"): hop distances from
    * the max-degree hub of the q136 support-thresholded co-purchase graph,
    * reported as the distance histogram plus the unreachable count — the
    * neighborhood-growth readout recommender/link-analysis pipelines use
    * to size walk horizons.
    *
    * Scale shape: textbook Pregel-style frontier BFS — each round is ONE
    * hash equi-join of the current frontier against the edge list plus an
    * anti-join against settled labels (work ∝ frontier's incident edges,
    * never vertices²), rounds = source eccentricity, labels/frontier
    * localCheckpoint-truncated per round (the q97 iteration discipline).
    * The edge list is the support-≥$TriangleSupport$ co-purchase graph, so
    * its size is bounded by REPEATED co-purchases (q136's scale argument).
    * Source selection is a tie-free [[Keys]] composite argmax (max degree,
    * then min id). The oracle walks the same graph with a recursive-CTE
    * reachability closure and takes min(dist) per vertex — quadratic in
    * walks, which is exactly what makes it an independent check on the
    * frontier algorithm.
    */
  private def q282(s: SparkSession, d: String): DataFrame = {
    val e0 = supportPairs(s, d, TriangleSupport).select(col("a"), col("b"))
    val edges = e0
      .union(e0.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(true)
    val deg = edges.groupBy(col("a").as("v")).agg(count(lit(1)).as("dg"))
      .localCheckpoint(true)
    val srcV = deg
      .agg(expr(s"max_by(v, ${Keys.key(Keys.asc("dg", 9),
        Keys.desc("v", 10))})").as("s"))
      .head().getLong(0)
    // r15: (a) each round's frontier count rides the checkpoint's own
    // materialization job (r14 VERDICT "next round" #4); (b) the settled
    // label set is a UNION of already-checkpointed per-round frontiers —
    // depth-1 lineage with no per-round re-checkpoint of the whole set
    // (one more job per round gone; the anti-join scans the same rows
    // either way)
    val src0 = deg.select(col("v")).filter(col("v") === srcV)
      .withColumn("dist", lit(0)).localCheckpoint(true)
    var labels = src0
    var frontier = src0
    var iter = 0
    var active = frontier.count()
    while (active > 0 && iter < 60) {
      iter += 1
      val nextRaw = frontier.join(edges, col("v") === col("a"))
        .select(col("b").as("v")).distinct()
        .join(labels, Seq("v"), "left_anti")
        .withColumn("dist", lit(iter))
      val (next, nActive) = org.apache.spark.sql.GraftShims
        .localCheckpointAndCount(nextRaw)
      active = nActive
      labels = labels.union(next)
      frontier = next
    }
    require(active == 0, "q282: BFS did not settle in 60 rounds")
    val reached = labels.groupBy(col("dist"))
      .agg(count(lit(1)).as("n_nodes"))
      .select(col("dist").cast("int").as("dist"), col("n_nodes"))
    val unreached = deg.join(labels, Seq("v"), "left_anti")
      .agg(count(lit(1)).as("n_nodes"))
      .select(lit(-1).cast("int").as("dist"), col("n_nodes"))
      .filter(col("n_nodes") > 0)
    reached.union(unreached).orderBy(col("dist"))
  }

  private def o282: String =
    s"""WITH RECURSIVE op AS MATERIALIZED (
         SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       e0 AS MATERIALIZED (
         SELECT x.p AS a, y.p AS b
         FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
         GROUP BY 1, 2 HAVING count(*) >= $TriangleSupport),
       edges AS MATERIALIZED (
         SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
       deg AS MATERIALIZED (SELECT a AS v, count(*) AS dg FROM edges GROUP BY a),
       src AS (
         SELECT arg_max(v, ${Keys.oKey(Keys.oAsc("dg", 9),
            Keys.oDesc("v", 10))}) AS s
         FROM deg),
       reach(v, dist) AS (
         SELECT s, 0 FROM src
         UNION
         SELECT e.b, r.dist + 1
         FROM reach r JOIN edges e ON e.a = r.v
         WHERE r.dist < 60),
       d AS MATERIALIZED (SELECT v, min(dist) AS dist FROM reach GROUP BY v)
       SELECT CAST(dist AS INT) AS dist, count(*) AS n_nodes
       FROM d GROUP BY dist
       UNION ALL
       SELECT CAST(-1 AS INT) AS dist, count(*) AS n_nodes
       FROM deg WHERE v NOT IN (SELECT v FROM d)
       HAVING count(*) > 0
       ORDER BY dist"""

  /** q310: k-core peeling trajectory of the co-purchase graph (Seidman
    * 1983) — iteratively remove vertices with degree < k until the k-core
    * remains. The density skeleton behind q136/q137/q282: the 3-core is
    * the part of the catalog where co-purchase structure is DENSE enough
    * for collaborative filtering and triangle-based similarity to mean
    * anything; the peel trajectory (vertices/edges after each round) shows
    * how much of the graph is periphery.
    *
    * Both engines run the SAME fixed [[KCoreRounds]]-round unrolled peel
    * (a bounded-depth prefix of the fixpoint — the trajectory has
    * converged when two consecutive rows agree: sf0.1's sparse graph
    * empties by round 2, sf0.01's denser one is still shedding periphery
    * at round 5; full-fixpoint coreness would use the q97
    * convergence-loop discipline, traded here for an exactly-pairable
    * unrolled oracle). Scale
    * shape: each round is two vertex-key equi-joins (edge ⋈ alive on both
    * endpoints) + one hash aggregation — work ∝ surviving incident edges,
    * never vertices²; the edge list is the support-≥2 graph (q136's
    * bounded-by-repeated-co-purchases argument). All counts exact int64.
    */
  private val KCoreK = 3
  private val KCoreRounds = 5

  /** q310: k-core peeling trajectory of the co-purchase graph, the vertices
    * and edges left after each round. */
  private def q310(s: SparkSession, d: String): DataFrame = {
    val e0 = supportPairs(s, d, TriangleSupport).select(col("a"), col("b"))
    val edges = e0
      .union(e0.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(true)
    def survivors(alive: DataFrame): DataFrame =
      edges
        .join(alive.select(col("v").as("a")), Seq("a"))
        .join(alive.select(col("v").as("b")), Seq("b"))
    def statsRow(r: Int, alive: DataFrame): DataFrame =
      survivors(alive)
        .agg(coalesce(countDistinct(col("a")), lit(0L)).as("n_vertices"),
          expr("count(1) DIV 2").as("n_edges"))
        .select(lit(r).as("round"), col("n_vertices"), col("n_edges"))
    var alive = edges.select(col("a").as("v")).distinct()
      .localCheckpoint(true)
    var out = statsRow(0, alive)
    for (r <- 1 to KCoreRounds) {
      alive = survivors(alive)
        .groupBy(col("a")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= KCoreK)
        .select(col("a").as("v"))
        .localCheckpoint(true)
      out = out.union(statsRow(r, alive))
    }
    out.orderBy(col("round"))
  }

  /** Every CTE is `MATERIALIZED`: each `a_r` is referenced three times
    * (both endpoint joins of `s_{r+1}` plus the report row), so DuckDB's
    * default CTE INLINING re-evaluates the whole peel prefix per
    * reference — ~3^rounds copies of the base pairing join (measured:
    * the inlined form ran minutes at sf0.1; materialized, seconds).
    */
  private def o310: String = {
    val rounds = (1 to KCoreRounds).map { r =>
      s"""s$r AS MATERIALIZED (SELECT e.a, e.b FROM edges e
            JOIN a${r - 1} x ON x.v = e.a JOIN a${r - 1} y ON y.v = e.b),
          a$r AS MATERIALIZED (SELECT a AS v FROM s$r GROUP BY a
                  HAVING count(*) >= $KCoreK)"""
    }.mkString(",\n       ")
    val rows = (0 to KCoreRounds).map { r =>
      val src = if (r < KCoreRounds) s"s${r + 1}"
        else s"""(SELECT e.a, e.b FROM edges e
             JOIN a$KCoreRounds x ON x.v = e.a
             JOIN a$KCoreRounds y ON y.v = e.b) t"""
      s"""SELECT $r AS round,
            CAST(COALESCE(count(DISTINCT a), 0) AS BIGINT) AS n_vertices,
            count(*) // 2 AS n_edges
          FROM $src"""
    }.mkString("\n       UNION ALL\n       ")
    s"""WITH op AS MATERIALIZED (
         SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       e0 AS MATERIALIZED (
         SELECT x.p AS a, y.p AS b
         FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
         GROUP BY 1, 2 HAVING count(*) >= $TriangleSupport),
       edges AS MATERIALIZED (
         SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
       a0 AS MATERIALIZED (SELECT DISTINCT a AS v FROM edges),
       $rounds
       $rows
       ORDER BY round"""
  }

  /** q313: HITS hubs & authorities (Kleinberg 1999) on the bipartite
    * customer→part purchase graph — authority parts are the catalog
    * staples bought by broad-basket ("hub") customers; the
    * link-analysis complement to q119's PageRank and the classic seed
    * ranking for recommendation candidates.
    *
    * Exactness design: the iterates run UNNORMALIZED in exact int64 —
    * a_p^(0)=1, h_c = Σ a_p, a_p = Σ h_c for [[HitsRounds]] full rounds.
    * Per-iteration L2/L1 normalization only rescales by a positive
    * scalar, so the unnormalized iterate is exactly proportional to the
    * normalized one: the RANKING is identical and score/max(score)
    * (reported, rounded at 6) equals the max-normalized HITS score —
    * with zero cross-row floating-point summation anywhere. Magnitudes:
    * after 2 full rounds values are bounded by maxdeg² · E (≲1e12 at
    * sf1-like degrees), far inside int64; Spark ANSI would throw on a
    * true overflow rather than wrap.
    *
    * Scale shape: each half-round is one equi-join of the edge list with
    * the |V|-sized score frame (shuffle on the vertex key, corpus-linear)
    * + one hash aggregation; the top-15-per-side readout is a global
    * TakeOrdered, never a window. The edge list is the DISTINCT (c,p)
    * incidence — one corpus pass.
    */
  private val HitsRounds = 2
  private val HitsTopK = 15

  /** q313: HITS hub and authority scores on the customer → part purchase
    * graph, iterated exactly in int64. */
  private def q313(s: SparkSession, d: String): DataFrame = {
    val inc = lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
      .localCheckpoint(true)
    // a^(0) = 1 for every part → h^(1) is just the customer degree.
    var hub = inc.groupBy(col("c")).agg(count(lit(1)).as("h"))
    var auth = inc.join(hub, Seq("c"))
      .groupBy(col("p")).agg(sum(col("h")).as("a"))
    for (_ <- 2 to HitsRounds) {
      hub = inc.join(auth, Seq("p"))
        .groupBy(col("c")).agg(sum(col("a")).as("h"))
      auth = inc.join(hub, Seq("c"))
        .groupBy(col("p")).agg(sum(col("h")).as("a"))
    }
    val aMax = auth.groupBy(pmod(col("a"), lit(1L)).as("jk"))
      .agg(max(col("a")).as("amax"))
    val hMax = hub.groupBy(pmod(col("h"), lit(1L)).as("jk"))
      .agg(max(col("h")).as("hmax"))
    val topAuth = auth
      .orderBy(col("a").desc, col("p")).limit(HitsTopK)
      .withColumn("jk", pmod(col("a"), lit(1L)))
      .join(broadcast(aMax), Seq("jk"))
      .select(lit("authority").as("side"), col("p").as("id"),
        col("a").as("score_raw"),
        round(col("a").cast("double") / col("amax"), 6).as("score_norm"))
    val topHub = hub
      .orderBy(col("h").desc, col("c")).limit(HitsTopK)
      .withColumn("jk", pmod(col("h"), lit(1L)))
      .join(broadcast(hMax), Seq("jk"))
      .select(lit("hub").as("side"), col("c").as("id"),
        col("h").as("score_raw"),
        round(col("h").cast("double") / col("hmax"), 6).as("score_norm"))
    topAuth.union(topHub)
      .orderBy(col("side"), col("score_raw").desc, col("id"))
  }

  private val o313 = s"""
    WITH inc AS MATERIALIZED (
      SELECT DISTINCT o_custkey AS c, l_partkey AS p
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    h1 AS MATERIALIZED (
      SELECT c, CAST(count(*) AS BIGINT) AS h FROM inc GROUP BY c),
    a1 AS MATERIALIZED (
      SELECT p, CAST(sum(h) AS BIGINT) AS a
      FROM inc JOIN h1 USING (c) GROUP BY p),
    h2 AS MATERIALIZED (
      SELECT c, CAST(sum(a) AS BIGINT) AS h
      FROM inc JOIN a1 USING (p) GROUP BY c),
    a2 AS MATERIALIZED (
      SELECT p, CAST(sum(h) AS BIGINT) AS a
      FROM inc JOIN h2 USING (c) GROUP BY p),
    amax AS (SELECT max(a) AS amax FROM a2),
    hmax AS (SELECT max(h) AS hmax FROM h2),
    ta AS (SELECT 'authority' AS side, p AS id, a AS score_raw,
                  round(CAST(a AS DOUBLE) / amax, 6) AS score_norm
           FROM a2, amax ORDER BY a DESC, p LIMIT $HitsTopK),
    th AS (SELECT 'hub' AS side, c AS id, h AS score_raw,
                  round(CAST(h AS DOUBLE) / hmax, 6) AS score_norm
           FROM h2, hmax ORDER BY h DESC, c LIMIT $HitsTopK)
    SELECT * FROM (SELECT * FROM ta UNION ALL SELECT * FROM th)
    ORDER BY side, score_raw DESC, id"""

  /** q315: semi-supervised label propagation (Zhu–Ghahramani 2002 /
    * Raghavan 2007 LPA) over the co-purchase support graph — seed 10% of
    * parts with their manufacturer, propagate by synchronous
    * majority-of-labeled-neighbors for [[LpaRounds]] rounds (seeds
    * clamped), report the per-round label census. The cheap
    * community/metadata-completion pass a catalog pipeline runs when
    * most items lack curated attributes: coverage per round IS the
    * "how much metadata can the graph recover" curve.
    *
    * Determinism: updates are fully synchronous (round r reads only
    * round r−1), the majority vote breaks count ties by MIN label, and
    * everything is exact int/string work — no floats anywhere, so the
    * unrolled DuckDB oracle pairs bit-for-bit.
    *
    * Scale shape: each round is one edge ⋈ labels equi-join (shuffle on
    * the vertex key, work ∝ labeled incident edges) + two hash
    * aggregations (per-(v,label) counts, per-v max) — the
    * arg-max-per-key decomposition, never a window; the loop carries
    * localCheckpoint-truncated lineage like q97/q310. Census frames are
    * label-bounded.
    */
  private val LpaRounds = 2

  /** Shared support-graph + synchronous-LPA run for q315 (per-round
    * census) and q320 (modularity of the final assignment): returns
    * (both-direction edge list, vertex set, label frames for rounds
    * 0..[[LpaRounds]]). Every frame localCheckpoint-truncated.
    */
  /** The support-≥[[TriangleSupport]] co-purchase graph shared by
    * q315/q320/q321: both-direction edge list + vertex set, both
    * localCheckpoint-truncated.
    */
  private def supportGraph(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val e0 = supportPairs(s, d, TriangleSupport).select(col("a"), col("b"))
    val edges = e0
      .union(e0.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(true)
    val verts = edges.select(col("a").as("v")).distinct()
      .localCheckpoint(true)
    (edges, verts)
  }

  private def lpaRun(s: SparkSession, d: String)
      : (DataFrame, DataFrame, Seq[DataFrame]) = {
    val (edges, verts) = supportGraph(s, d)
    val seeds = part(s, d)
      .select(col("p_partkey").as("v"), col("p_brand").as("lab"))
      .filter(pmod(col("v"), lit(10L)) === 0L)
      .join(verts, Seq("v"))
      .localCheckpoint(true)
    var labels = seeds
    val rounds = Seq.newBuilder[DataFrame]
    rounds += labels
    for (_ <- 1 to LpaRounds) {
      val cnt = edges
        .join(labels.select(col("v").as("b"), col("lab")), Seq("b"))
        .groupBy(col("a").as("v"), col("lab"))
        .agg(count(lit(1)).as("cnt"))
      val vm = cnt.groupBy(col("v")).agg(max(col("cnt")).as("mc"))
      val picked = cnt.join(vm, Seq("v"))
        .filter(col("cnt") === col("mc"))
        .groupBy(col("v")).agg(min(col("lab")).as("lab"))
      labels = seeds
        .union(picked.join(seeds.select(col("v")), Seq("v"), "left_anti"))
        .localCheckpoint(true)
      rounds += labels
    }
    (edges, verts, rounds.result())
  }

  /** q315: synchronous label propagation on the support graph, the label
    * census after each round. */
  private def q315(s: SparkSession, d: String): DataFrame = {
    val (_, verts, rounds) = lpaRun(s, d)
    def census(r: Int, labels: DataFrame): DataFrame =
      labels.groupBy(col("lab")).agg(count(lit(1)).as("n_nodes"))
        .select(lit(r).as("round"), col("lab"), col("n_nodes"))
        .union(verts.join(labels, Seq("v"), "left_anti")
          .agg(count(lit(1)).as("n_nodes"))
          .select(lit(r).as("round"), lit("zz_unlabeled").as("lab"),
            col("n_nodes")))
    rounds.zipWithIndex
      .map { case (labels, r) => census(r, labels) }
      .reduce(_.union(_))
      .orderBy(col("round"), col("lab"))
  }

  /** Shared unrolled-LPA CTE prefix for o315/o320; every round frame is
    * referenced by the next round AND its readout, so `AS MATERIALIZED`
    * everywhere (the q310 CTE-inlining lesson).
    */
  private def lpaCtes: String = {
    val rounds = (1 to LpaRounds).map { r =>
      s"""c$r AS (SELECT e.a AS v, l.lab, count(*) AS cnt
              FROM edges e JOIN l${r - 1} l ON l.v = e.b GROUP BY 1, 2),
          m$r AS (SELECT v, max(cnt) AS mc FROM c$r GROUP BY v),
          p$r AS (SELECT c$r.v, min(c$r.lab) AS lab
              FROM c$r JOIN m$r ON m$r.v = c$r.v AND c$r.cnt = m$r.mc
              GROUP BY c$r.v),
          l$r AS MATERIALIZED (
              SELECT v, lab FROM seeds
              UNION ALL
              SELECT v, lab FROM p$r
              WHERE v NOT IN (SELECT v FROM seeds))"""
    }.mkString(",\n       ")
    s"""op AS MATERIALIZED (
         SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       e0 AS MATERIALIZED (
         SELECT x.p AS a, y.p AS b
         FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
         GROUP BY 1, 2 HAVING count(*) >= $TriangleSupport),
       edges AS MATERIALIZED (
         SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
       verts AS MATERIALIZED (SELECT DISTINCT a AS v FROM edges),
       seeds AS MATERIALIZED (
         SELECT v, lab FROM (
           SELECT p_partkey AS v, p_brand AS lab FROM part
           WHERE p_partkey % 10 = 0) sp
         JOIN verts USING (v)),
       l0 AS MATERIALIZED (SELECT v, lab FROM seeds),
       $rounds"""
  }

  private def o315: String = {
    val rows = (0 to LpaRounds).map { r =>
      s"""SELECT $r AS round, lab, CAST(count(*) AS BIGINT) AS n_nodes
          FROM l$r GROUP BY lab
          UNION ALL
          SELECT $r AS round, 'zz_unlabeled' AS lab,
                 CAST(count(*) AS BIGINT) AS n_nodes
          FROM verts WHERE v NOT IN (SELECT v FROM l$r)"""
    }.mkString("\n       UNION ALL\n       ")
    s"""WITH $lpaCtes
       $rows
       ORDER BY round, lab"""
  }

  /** q320: Newman modularity of the q315 label-propagation assignment
    * (Newman & Girvan 2004) — Q = Σ_c [in_c/2m − (d_c/2m)²] over the
    * final LPA communities, each unlabeled vertex its own singleton
    * (rolled up into one report row: singletons contribute no within
    * edges, only the −(d/2m)² null-model mass). The acceptance gate for
    * ANY community assignment: LPA labels are only worth propagating
    * into the catalog if Q clears the null model, and per-community
    * q_contrib shows which brands form real co-purchase blocks.
    *
    * Exactness: within-community edge counts, degree sums, and the
    * singleton Σdeg² are exact int64; every contribution is a fixed
    * IEEE dag on those ints (squares and ratios, no transcendentals);
    * the total-Q fold crosses ≤ |brands|+2 rounded-at-6 terms.
    *
    * Scale shape: two vertex-key equi-joins tag edge endpoints with
    * communities, then one hash aggregation each for within-counts and
    * degree mass — all corpus-linear in edges; the report frame is
    * label-bounded.
    */
  private def q320(s: SparkSession, d: String): DataFrame = {
    val (edges, verts, rounds) = lpaRun(s, d)
    val labels = rounds.last
    val comm = verts.join(labels, Seq("v"), "left")
      .select(col("v"),
        coalesce(col("lab"), concat(lit("u"), col("v"))).as("c"))
      .localCheckpoint(true)
    val deg = edges.groupBy(col("a").as("v")).agg(count(lit(1)).as("deg"))
    val m2 = edges.groupBy(pmod(col("a"), lit(1L)).as("jk"))
      .agg(count(lit(1)).as("m2"))
    val within = edges
      .join(comm.select(col("v").as("a"), col("c").as("ca")), Seq("a"))
      .join(comm.select(col("v").as("b"), col("c").as("cb")), Seq("b"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("c")).agg(count(lit(1)).as("in2"))
    val cs = comm.join(deg, Seq("v"))
      .groupBy(col("c"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("dsum"),
        sum(col("deg") * col("deg")).as("dsum2"))
      .join(within, Seq("c"), "left")
      .withColumn("in2", coalesce(col("in2"), lit(0L)))
      .withColumn("jk", pmod(col("n_nodes"), lit(1L)))
      .join(broadcast(m2), Seq("jk"))
      .localCheckpoint(true)
    val named = cs.filter(!col("c").startsWith("u"))
      .select(col("c").as("community"), col("n_nodes"),
        expr("in2 DIV 2").as("in_edges"), col("dsum").as("deg_sum"),
        round(col("in2").cast("double") / col("m2")
          - col("dsum").cast("double") * col("dsum")
            / (col("m2").cast("double") * col("m2")), 6).as("q_contrib"))
    val sing = cs.filter(col("c").startsWith("u"))
      .groupBy(col("jk"))
      .agg(sum(col("n_nodes")).as("n_nodes"), sum(col("dsum")).as("dsum"),
        sum(col("dsum2")).as("dsum2"), max(col("m2")).as("m2x"))
      .select(lit("zz_singletons").as("community"), col("n_nodes"),
        lit(0L).as("in_edges"), col("dsum").as("deg_sum"),
        round(-(col("dsum2").cast("double")
          / (col("m2x").cast("double") * col("m2x"))), 6).as("q_contrib"))
    val total = named.select(col("n_nodes"), col("in_edges"),
        col("deg_sum"), col("q_contrib"))
      .union(sing.select(col("n_nodes"), col("in_edges"), col("deg_sum"),
        col("q_contrib")))
      .groupBy(pmod(col("n_nodes"), lit(1L)).as("jk"))
      .agg(sum(col("n_nodes")).as("n_nodes"),
        sum(col("in_edges")).as("in_edges"),
        sum(col("deg_sum")).as("deg_sum"),
        round(sum(col("q_contrib")), 6).as("q_contrib"))
      .select(lit("zz_total").as("community"), col("n_nodes"),
        col("in_edges"), col("deg_sum"), col("q_contrib"))
    named.union(sing).union(total).orderBy(col("community"))
  }

  private def o320: String =
    s"""WITH $lpaCtes,
       comm AS MATERIALIZED (
         SELECT verts.v, COALESCE(l.lab, 'u' || CAST(verts.v AS VARCHAR))
           AS c
         FROM verts LEFT JOIN l$LpaRounds l ON l.v = verts.v),
       deg AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS deg
               FROM edges GROUP BY a),
       mm AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM edges),
       within AS (
         SELECT ca.c, CAST(count(*) AS BIGINT) AS in2
         FROM edges e
         JOIN comm ca ON ca.v = e.a
         JOIN comm cb ON cb.v = e.b
         WHERE ca.c = cb.c GROUP BY ca.c),
       cs AS MATERIALIZED (
         SELECT g.c, g.n_nodes, g.dsum, g.dsum2,
                COALESCE(w.in2, 0) AS in2, mm.m2
         FROM (SELECT c, CAST(count(*) AS BIGINT) AS n_nodes,
                      CAST(sum(deg) AS BIGINT) AS dsum,
                      CAST(sum(deg * deg) AS BIGINT) AS dsum2
               FROM comm JOIN deg USING (v) GROUP BY c) g
         LEFT JOIN within w ON w.c = g.c, mm),
       named AS (
         SELECT c AS community, n_nodes, in2 // 2 AS in_edges,
                dsum AS deg_sum,
                round(CAST(in2 AS DOUBLE) / m2
                  - CAST(dsum AS DOUBLE) * CAST(dsum AS DOUBLE)
                    / (CAST(m2 AS DOUBLE) * m2), 6) AS q_contrib
         FROM cs WHERE c NOT LIKE 'u%'),
       sing AS (
         SELECT 'zz_singletons' AS community,
                CAST(sum(n_nodes) AS BIGINT) AS n_nodes,
                CAST(0 AS BIGINT) AS in_edges,
                CAST(sum(dsum) AS BIGINT) AS deg_sum,
                round(-(CAST(sum(dsum2) AS DOUBLE)
                  / (CAST(max(m2) AS DOUBLE) * max(m2))), 6) AS q_contrib
         FROM cs WHERE c LIKE 'u%'
         -- HAVING: zero singletons must drop the row like Spark's
         -- grouped aggregate does, not emit NULL sums
         HAVING count(*) > 0),
       allrows AS (SELECT * FROM named UNION ALL SELECT * FROM sing)
       SELECT * FROM allrows
       UNION ALL
       SELECT 'zz_total' AS community,
              CAST(sum(n_nodes) AS BIGINT) AS n_nodes,
              CAST(sum(in_edges) AS BIGINT) AS in_edges,
              CAST(sum(deg_sum) AS BIGINT) AS deg_sum,
              round(sum(q_contrib), 6) AS q_contrib
       FROM allrows HAVING count(*) > 0
       ORDER BY community"""

  /** q321: degree assortativity of the co-purchase support graph
    * (Newman 2002) — the Pearson correlation of endpoint degrees over
    * the edge list: positive r means hubs wire to hubs (a dense rich
    * club that co-purchase recommendations over-concentrate on),
    * negative means hub-periphery. One number that says which failure
    * mode a graph-driven recommender is exposed to.
    *
    * Exactness: all five moment sums (Σjk, Σj, Σj² over the
    * both-direction edge list, which makes j/k symmetric) are exact
    * int64; r is a fixed IEEE dag, NULL on the regular-graph degenerate
    * (zero degree variance) in both engines.
    *
    * Scale shape: degree frame by one hash agg, two vertex-key
    * equi-joins to tag endpoints, one global moment aggregation —
    * corpus-linear in edges, output is a single row.
    */
  private def q321(s: SparkSession, d: String): DataFrame = {
    val (edges, verts) = supportGraph(s, d)
    val deg = edges.groupBy(col("a").as("v")).agg(count(lit(1)).as("deg"))
    val tagged = edges
      .join(deg.select(col("v").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("deg").as("db")), Seq("b"))
    val nv = verts.groupBy(pmod(col("v"), lit(1L)).as("jk"))
      .agg(count(lit(1)).as("n_nodes"))
    tagged
      .groupBy(pmod(col("da"), lit(1L)).as("jk"))
      .agg(count(lit(1)).as("m2"),
        sum(col("da") * col("db")).as("sjk"),
        sum(col("da")).as("sj"),
        sum(col("da") * col("da")).as("sj2"))
      .join(broadcast(nv), Seq("jk"))
      .select(col("n_nodes"), expr("m2 DIV 2").as("n_edges"),
        round(col("sj").cast("double") / col("n_nodes"), 4).as("avg_deg"),
        round(when(col("sj2").cast("double") / col("m2")
            - (col("sj").cast("double") / col("m2"))
              * (col("sj").cast("double") / col("m2")) =!= 0.0,
          (col("sjk").cast("double") / col("m2")
            - (col("sj").cast("double") / col("m2"))
              * (col("sj").cast("double") / col("m2")))
            / (col("sj2").cast("double") / col("m2")
              - (col("sj").cast("double") / col("m2"))
                * (col("sj").cast("double") / col("m2")))), 6)
          .as("r_assort"))
  }

  private def o321: String =
    s"""WITH op AS MATERIALIZED (
         SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       e0 AS MATERIALIZED (
         SELECT x.p AS a, y.p AS b
         FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
         GROUP BY 1, 2 HAVING count(*) >= $TriangleSupport),
       edges AS MATERIALIZED (
         SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
       verts AS MATERIALIZED (SELECT DISTINCT a AS v FROM edges),
       deg AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS deg
               FROM edges GROUP BY a),
       nv AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM verts),
       mom AS (
         SELECT CAST(count(*) AS BIGINT) AS m2,
                CAST(sum(da.deg * db.deg) AS BIGINT) AS sjk,
                CAST(sum(da.deg) AS BIGINT) AS sj,
                CAST(sum(da.deg * da.deg) AS BIGINT) AS sj2
         FROM edges e
         JOIN deg da ON da.v = e.a
         JOIN deg db ON db.v = e.b)
       SELECT n_nodes, m2 // 2 AS n_edges,
              round(CAST(sj AS DOUBLE) / n_nodes, 4) AS avg_deg,
              round(CASE WHEN CAST(sj2 AS DOUBLE) / m2
                  - (CAST(sj AS DOUBLE) / m2) * (CAST(sj AS DOUBLE) / m2)
                  <> 0.0 THEN
                (CAST(sjk AS DOUBLE) / m2
                  - (CAST(sj AS DOUBLE) / m2) * (CAST(sj AS DOUBLE) / m2))
                / (CAST(sj2 AS DOUBLE) / m2
                  - (CAST(sj AS DOUBLE) / m2)
                    * (CAST(sj AS DOUBLE) / m2)) END, 6) AS r_assort
       FROM mom, nv"""

  private val AnfK = 16
  private val AnfRounds = 3
  // 52-bit md5-prefix hash space: (k-1)·2^52 fits int64 with 3 decimal
  // digits to spare, so the KMV estimate can be an EXACT integer division
  private val AnfNum: Long = (AnfK - 1).toLong * (1L << 52)

  /** q323: approximate neighborhood function + effective diameter via
    * per-vertex KMV sketch propagation — the ANF/HyperANF design (Palmer
    * et al. KDD'02; Boldi–Rosa–Vigna WWW'11) with q280's oracle-checkable
    * KMV sketch in place of HyperLogLog: sketch_t(v) = k smallest 52-bit
    * md5 hashes over the t-hop ball around v, advanced each round by
    * merging each vertex's sketch with its neighbors' and re-topping at k.
    * N(t) = Σ_v |ball(v,t)| estimates how much of the graph each
    * additional hop reaches; the effective diameter (smallest t covering
    * ≥90% of N(R)) is THE one-number connectivity readout — and computing
    * it exactly needs all-pairs BFS, which no 100 TB graph affords.
    *
    * Exactness design: md5 is identical in both engines, so the sketches
    * are deterministic sets; the per-vertex estimate is `cnt` when the
    * sketch is unsaturated (exact by KMV semantics) else the EXACT integer
    * division (k−1)·2^52 // h_k — N(t) is then an exact int64 sum with no
    * floating-point anywhere. The t≤1 balls are exactly |V| and
    * |V|+|directed edges|, reported beside the estimates as the built-in
    * accuracy audit; coverage ratios divide exact longs once, rounded 6.
    *
    * Scale shape: each round is one edge⋈sketch equi-join (≤k rows per
    * vertex, shuffle volume E·k) + a distinct + a per-vertex top-k window
    * (partition key = vertex id, unbounded cardinality — parallelism grows
    * with the graph); rounds are localCheckpoint-truncated. Work per round
    * is E·k — HyperANF's shape exactly, with k trading accuracy for
    * bandwidth. Oracle: the identical unrolled propagation with
    * AS MATERIALIZED round CTEs (the q310 inlining lesson).
    */
  private def q323(s: SparkSession, d: String): DataFrame = {
    val (edges, verts) = supportGraph(s, d)
    // r15: each round's distinct + per-vertex top-k rank window (two
    // exchanges + a sort of the E·k propagation frame) is ONE k-bounded
    // set-semantics aggregation: NativeTopK with dedup drops duplicate
    // (v, h) arrivals inside the k-buffer, and (score = -h, key = h)
    // makes position order == h ascending, exactly the window's
    // `ORDER BY h` prefix (h < 2^52, exact as a double; (v, h) pairs are
    // distinct after dedup, so there are no ties to break). The sketch
    // lives as ONE array row per vertex: the per-round neighborhood
    // estimate reads cnt = size(top) and h_k = last element directly,
    // with no re-aggregation pass.
    def sketchRound(df: DataFrame): DataFrame = df
      .groupBy(col("v"))
      .agg(graft.functions.NativeTopK.topkEntriesDistinct(
        (-col("h")).cast("double"), col("h"), AnfK).as("top"))
    var curAgg = sketchRound(verts.select(col("v"),
      conv(substring(md5(col("v").cast("string")), 1, 13), 16, 10)
        .cast("long").as("h")))
      .localCheckpoint(true)
    val rounds = Seq.newBuilder[(Int, DataFrame)]
    rounds += 0 -> curAgg
    for (t <- 1 to AnfRounds) {
      val cur = curAgg.select(col("v"), explode(col("top")).as("e"))
        .select(col("v"), col("e.key").as("h"))
      val prop = edges.join(cur.select(col("v").as("b"), col("h")), Seq("b"))
        .select(col("a").as("v"), col("h"))
      curAgg = sketchRound(cur.union(prop)).localCheckpoint(true)
      rounds += t -> curAgg
    }
    val nf = rounds.result().map { case (t, df) =>
      df.select(lit(t).as("t"),
        when(size(col("top")) < AnfK, size(col("top")).cast("long"))
          .otherwise(expr(s"$AnfNum div greatest(" +
            "element_at(top, size(top)).key, cast(1 as bigint))"))
          .cast("long").as("est"))
        .groupBy(col("t"))
        .agg(count(lit(1)).cast("long").as("n_verts"),
          sum(col("est")).cast("long").as("nf_est"))
    }.reduce(_ union _)
    val sizes = verts.agg(count(lit(1)).as("nv"))
      .withColumn("jk", pmod(col("nv"), lit(1L)))
      .join(edges.agg(count(lit(1)).as("ne"))
        .withColumn("jk", pmod(col("ne"), lit(1L))), Seq("jk"))
    val last = nf.filter(col("t") === AnfRounds)
      .select(col("nf_est").as("nf_last"),
        pmod(col("t").cast("long"), lit(1L)).as("jk"))
    nf.withColumn("jk", pmod(col("t").cast("long"), lit(1L)))
      .join(broadcast(sizes), Seq("jk"))
      .join(broadcast(last), Seq("jk"))
      .select(col("t"), col("n_verts"), col("nf_est"),
        when(col("t") === 0, col("nv"))
          .when(col("t") === 1, col("nv") + col("ne"))
          .cast("long").as("exact_nf"),
        round(col("nf_est").cast("double") / col("nf_last").cast("double"), 6)
          .as("coverage"),
        (col("nf_est") * 10 >= col("nf_last") * 9).cast("int").as("reached90"))
      .orderBy(col("t"))
  }

  private def o323: String = {
    val rounds = (1 to AnfRounds).map { r =>
      s"""s$r AS MATERIALIZED (
            SELECT v, h FROM (
              SELECT v, h, row_number() OVER (PARTITION BY v ORDER BY h) AS rn
              FROM (SELECT DISTINCT v, h FROM (
                SELECT e.a AS v, s.h FROM edges e JOIN s${r - 1} s ON s.v = e.b
                UNION SELECT v, h FROM s${r - 1}) u) w) z
            WHERE rn <= $AnfK)"""
    }.mkString(",\n       ")
    val nfRows = (0 to AnfRounds).map { r =>
      s"""SELECT $r AS t, CAST(count(*) AS BIGINT) AS n_verts,
            CAST(sum(est) AS BIGINT) AS nf_est
          FROM (SELECT v,
                  CASE WHEN count(*) < $AnfK THEN count(*)
                       ELSE $AnfNum // greatest(max(h), 1) END AS est
                FROM s$r GROUP BY v) p$r
          HAVING count(*) > 0"""
    }.mkString("\n       UNION ALL\n       ")
    s"""WITH op AS MATERIALIZED (
         SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       e0 AS MATERIALIZED (
         SELECT x.p AS a, y.p AS b
         FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
         GROUP BY 1, 2 HAVING count(*) >= $TriangleSupport),
       edges AS MATERIALIZED (
         SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
       s0 AS MATERIALIZED (
         SELECT DISTINCT a AS v,
                CAST('0x' || substr(md5(CAST(a AS VARCHAR)), 1, 13) AS BIGINT)
                  AS h
         FROM edges),
       $rounds,
       nf AS MATERIALIZED (${nfRows.replace("\n", "\n       ")}),
       sizes AS (SELECT (SELECT CAST(count(DISTINCT a) AS BIGINT)
                         FROM edges) AS nv,
                        (SELECT CAST(count(*) AS BIGINT) FROM edges) AS ne),
       lastr AS (SELECT nf_est AS nf_last FROM nf WHERE t = $AnfRounds)
       SELECT t, n_verts, nf_est,
              CASE WHEN t = 0 THEN nv
                   WHEN t = 1 THEN nv + ne END AS exact_nf,
              round(CAST(nf_est AS DOUBLE) / CAST(nf_last AS DOUBLE), 6)
                AS coverage,
              CAST(nf_est * 10 >= nf_last * 9 AS INT) AS reached90
       FROM nf, sizes, lastr
       ORDER BY t"""
  }

  private val RichClubKs = Seq(2, 4, 8, 16)

  /** q327: rich-club coefficient curve — do the co-purchase graph's hubs
    * preferentially wire to EACH OTHER (Zhou–Mondragón '04)? φ(k) =
    * density of the subgraph induced by vertices of degree > k, read at a
    * fixed degree-threshold grid; a rising φ(k) means catalog staples form
    * a dense core (one broadcast/caching tier serves the hot set), a flat
    * one means hub traffic is dispersed. Complements q321's one-number
    * assortativity with the curve over the hub hierarchy.
    *
    * Cross-engine: degrees, induced-edge counts, and vertex counts are
    * exact int64; φ(k) is ONE division of exact ints (directed-edge count
    * over n_k(n_k−1), both double-counted so the 2s cancel), rounded at 6;
    * the n_k ≤ 1 degenerate yields NULL on both engines. Scale shape: one
    * degree aggregation, two vertex-key equi-joins tagging each edge with
    * its endpoint degrees, then a constant ×|grid| conditional rollup —
    * corpus-linear at fixed grid, no windows.
    */
  private def q327(s: SparkSession, d: String): DataFrame = {
    val (edges, _) = supportGraph(s, d)
    val deg = edges.groupBy(col("a")).agg(count(lit(1)).as("deg"))
    val tagged = edges
      .join(deg.select(col("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("a").as("b"), col("deg").as("db")), Seq("b"))
    val kArr = array(RichClubKs.map(lit(_)): _*)
    val eK = tagged.select(col("da"), col("db"), explode(kArr).as("k"))
      .groupBy(col("k"))
      .agg(sum(when(col("da") > col("k") && col("db") > col("k"), 1L)
        .otherwise(0L)).cast("long").as("e2"))
    val nK = deg.select(col("deg"), explode(kArr).as("k"))
      .groupBy(col("k"))
      .agg(sum(when(col("deg") > col("k"), 1L).otherwise(0L)).cast("long")
        .as("n_k"))
    nK.join(eK, Seq("k"))
      .select(col("k"), col("n_k"), expr("e2 div 2").cast("long").as("e_k"),
        when(col("n_k") > 1, round(col("e2").cast("double")
          / (col("n_k") * (col("n_k") - 1)).cast("double"), 6)).as("phi"))
      .orderBy(col("k"))
  }

  private def o327: String =
    s"""WITH op AS MATERIALIZED (
         SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       e0 AS MATERIALIZED (
         SELECT x.p AS a, y.p AS b
         FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
         GROUP BY 1, 2 HAVING count(*) >= $TriangleSupport),
       edges AS MATERIALIZED (
         SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
       deg AS MATERIALIZED (
         SELECT a, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY a),
       ks AS (SELECT unnest([${RichClubKs.mkString(", ")}]) AS k),
       tagged AS (
         SELECT e.a, e.b, x.deg AS da, y.deg AS db
         FROM edges e JOIN deg x ON x.a = e.a JOIN deg y ON y.a = e.b),
       ek AS (
         SELECT k, CAST(sum(CASE WHEN da > k AND db > k THEN 1 ELSE 0 END)
                  AS BIGINT) AS e2
         FROM tagged, ks GROUP BY k),
       nk AS (
         SELECT k, CAST(sum(CASE WHEN deg > k THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_k
         FROM deg, ks GROUP BY k)
       SELECT nk.k, nk.n_k, ek.e2 // 2 AS e_k,
              CASE WHEN nk.n_k > 1 THEN
                round(CAST(ek.e2 AS DOUBLE)
                  / CAST(nk.n_k * (nk.n_k - 1) AS DOUBLE), 6) END AS phi
       FROM nk JOIN ek USING (k)
       ORDER BY nk.k"""

  private val RaMiddleCap = 32
  private val RaTopK = 20

  /** q328: resource-allocation link prediction over the co-purchase graph —
    * "which parts SHOULD be co-purchased but aren't yet": for each
    * non-adjacent pair sharing common neighbors, the RA index
    * Σ_{z∈N(a)∩N(b)} 1/deg(z) (Zhou–Lü–Zhang '09 — the top performer of
    * the common-neighbor family in their benchmark, and unlike
    * Adamic–Adar's 1/ln(deg) it is EXACTLY computable: each middle
    * contributes the exact integer 10^12 // deg(z), so pair scores are
    * exact int64 sums — no transcendental, no fold-order question). The
    * recommendation-candidate miner beside q137's same-incidence Jaccard.
    *
    * Scale shape: middles are degree-capped at [[RaMiddleCap]] before
    * pairing (q137's stop-item cut — a hub middle contributes C(deg,2)
    * wedges and ~zero per-pair weight 1/deg, so the cap drops the
    * quadratic cost exactly where the signal vanishes; dropped-middle
    * count surfaced in every row, not swallowed). Wedge fanout is then
    * ≤ C(cap,2) per middle; existing edges leave via one anti-join on the
    * pair key; the readout is a global TakeOrdered top-[[RaTopK]], never a
    * window.
    */
  private def q328(s: SparkSession, d: String): DataFrame = {
    val (edges, _) = supportGraph(s, d)
    val deg = edges.groupBy(col("a")).agg(count(lit(1)).as("deg"))
    val nDropped = deg.filter(col("deg") > RaMiddleCap)
      .agg(count(lit(1)).cast("long").as("n_middles_dropped"))
      .withColumn("jk", pmod(col("n_middles_dropped"), lit(1L)))
    val nbr = edges
      .join(deg.filter(col("deg") <= RaMiddleCap), Seq("a"))
      .select(col("a").as("z"), col("b").as("x"),
        expr("cast(1000000000000 as bigint) div deg").as("w"))
    val pairs = nbr.as("p")
      .join(nbr.as("q"),
        col("p.z") === col("q.z") && col("p.x") < col("q.x"))
      .groupBy(col("p.x").as("a"), col("q.x").as("b"))
      .agg(count(lit(1)).cast("long").as("n_common"),
        sum(col("p.w")).cast("long").as("score_num"))
      .join(edges, Seq("a", "b"), "left_anti")
    pairs
      .withColumn("jk", pmod(col("n_common"), lit(1L)))
      .join(broadcast(nDropped), Seq("jk"))
      .select(col("a"), col("b"), col("n_common"),
        round(col("score_num").cast("double") / lit(1e12), 6).as("ra_score"),
        col("n_middles_dropped"))
      .orderBy(col("ra_score").desc, col("a"), col("b"))
      .limit(RaTopK)
  }

  private def o328: String =
    s"""WITH op AS MATERIALIZED (
         SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       e0 AS MATERIALIZED (
         SELECT x.p AS a, y.p AS b
         FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
         GROUP BY 1, 2 HAVING count(*) >= $TriangleSupport),
       edges AS MATERIALIZED (
         SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
       deg AS MATERIALIZED (
         SELECT a, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY a),
       dropped AS (SELECT CAST(count(*) AS BIGINT) AS n_middles_dropped
                   FROM deg WHERE deg > $RaMiddleCap),
       nbr AS (
         SELECT e.a AS z, e.b AS x, 1000000000000 // d.deg AS w
         FROM edges e JOIN deg d ON d.a = e.a
         WHERE d.deg <= $RaMiddleCap),
       pairs AS (
         SELECT p.x AS a, q.x AS b,
                CAST(count(*) AS BIGINT) AS n_common,
                CAST(sum(p.w) AS BIGINT) AS score_num
         FROM nbr p JOIN nbr q ON p.z = q.z AND p.x < q.x
         GROUP BY p.x, q.x),
       cand AS (
         SELECT pr.* FROM pairs pr
         WHERE NOT EXISTS (SELECT 1 FROM edges e
                           WHERE e.a = pr.a AND e.b = pr.b))
       SELECT a, b, n_common,
              round(CAST(score_num AS DOUBLE) / 1e12, 6) AS ra_score,
              n_middles_dropped
       FROM cand, dropped
       ORDER BY ra_score DESC, a, b LIMIT $RaTopK"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q323_anf_effective_diameter", q323, Some(o323)),
    QueryDef("q327_rich_club", q327, Some(o327)),
    QueryDef("q328_ra_link_prediction", q328, Some(o328)),
    QueryDef("q313_hits_scores", q313, Some(o313)),
    QueryDef("q315_label_propagation", q315, Some(o315)),
    QueryDef("q320_lpa_modularity", q320, Some(o320)),
    QueryDef("q321_assortativity", q321, Some(o321)),
    QueryDef("q310_kcore_peel", q310, Some(o310)),
    QueryDef("q136_triangle_count", q136, Some(o136)),
    QueryDef("q137_copurchase_similarity", q137, Some(o137)),
    QueryDef("q282_bfs_distances", q282, Some(o282)),
    QueryDef("q188_assoc_rules", q188, Some(o188)))
}
