package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection over `documents`: MinHash signatures, banded LSH
  * bucketing, LSH-candidate Jaccard verification, SimHash grouping and
  * bounded n-gram Jaccard — the standard large-corpus dedup toolkit.
  *
  * Scale design (the part that must survive 100 TB):
  *   - signatures/bands are per-row maps (shuffle-free);
  *   - candidate generation groups by (band, bucket-key) — pairs are only
  *     formed WITHIN a bucket, never all-pairs across the corpus;
  *   - Jaccard verification joins exploded shingle sets only for candidate
  *     pairs (a semi-join-shaped restriction), so verification work is
  *     proportional to candidates, not corpus²;
  *   - SimHash near-dup grouping is an exact groupBy on the 16-bit
  *     fingerprint (hamming-0 buckets) — no pairwise scan.
  *
  * Hashing is md5-based so the DuckDB oracle reproduces every signature
  * bit-for-bit (both engines hash identical UTF-8 bytes; MinHash "permutation"
  * j = lexicographic min of md5("j:" ++ shingle), a standard
  * hash-as-permutation construction).
  */
object Dedup {
  import Tables._

  private val ShingleLen = 5
  private val NumHashes = 8


  /** The 8 "permutations" come from 2 md5 calls per shingle, not 8: an md5
    * digest is 32 independent hex chars, so its four 8-hex windows are four
    * independent 32-bit hash functions (lexicographic min of fixed-width hex
    * == numeric min of the 32-bit value). Permutations 0-3 window
    * `md5(shingle)`, 4-7 window `md5('x' || shingle)` — 4x less hashing than
    * one md5 per permutation for the same minhash guarantees, and still
    * bit-reproducible in the DuckDB oracle.
    *
    * doc_id + mh0..mh7 signature frame. Computed by the codegen'd native
    * expression [[graft.functions.MinHashSignatureExpression]] — one pass
    * over the UTF-8 bytes per row, no intermediate shingle/hash arrays (an
    * interpreted transform+array_min chain was ~3x slower); CPU-bound, so
    * the scan is re-partitioned up to core count first
    * (see `Tables.parallelize`).
    */
  private def signatures(s: SparkSession, d: String): DataFrame =
    parallelize(s, documents(s, d))
      .withColumn("sig",
        graft.functions.MinHashSignatureExpression.minhashSignature(col("text")))
      .select(
        col("doc_id") +: (0 until NumHashes)
          .map(j => element_at(col("sig"), j + 1).as(s"mh$j")): _*)

  /** Oracle fragment: the same signature columns in DuckDB dialect. */
  private def oMh(j: Int): String = {
    val src = if (j < NumHashes / 2) "hs1" else "hs2"
    s"""list_min(list_transform($src,
       h -> substr(h, ${(j % 4) * 8 + 1}, 8))) AS mh$j"""
  }

  private def oSig: String =
    s"""SELECT doc_id, ${(0 until NumHashes).map(oMh).mkString(",\n ")}
       FROM (SELECT doc_id,
               list_transform(range(1, length(text) - ${ShingleLen - 2}),
                 i -> md5(substr(text, i, $ShingleLen))) AS hs1,
               list_transform(range(1, length(text) - ${ShingleLen - 2}),
                 i -> md5('x' || substr(text, i, $ShingleLen))) AS hs2
             FROM documents)"""

  /** band key columns: md5 over 4 concatenated signature rows per band. */
  private def bandArr: Column = array(
    md5(concat_ws("|", col("mh0"), col("mh1"), col("mh2"), col("mh3"))),
    md5(concat_ws("|", col("mh4"), col("mh5"), col("mh6"), col("mh7"))))

  private val oBandList =
    """[md5(mh0 || '|' || mh1 || '|' || mh2 || '|' || mh3),
        md5(mh4 || '|' || mh5 || '|' || mh6 || '|' || mh7)]"""

  /** exploded (doc_id, band_pos, bkey) frame. Docs too short for one
    * shingle have NULL signatures and are excluded on BOTH sides — without
    * the symmetric filter, Spark's null-skipping `concat_ws` would bucket
    * all short docs under one band key while the oracle's null-propagating
    * `||` would not, silently diverging q37/q38 on such corpora.
    */
  private def bands(s: SparkSession, d: String): DataFrame =
    signatures(s, d).filter(col("mh0").isNotNull).select(col("doc_id"),
      posexplode(bandArr).as(Seq("band_pos", "bkey")))

  private def oBands: String =
    s"""SELECT doc_id, CAST(generate_subscripts(bl, 1) - 1 AS INT) AS band_pos,
              unnest(bl) AS bkey
       FROM (SELECT doc_id, $oBandList AS bl FROM ($oSig) WHERE mh0 IS NOT NULL)"""

  /** q36: the MinHash signature matrix itself. */
  private def q36(s: SparkSession, d: String): DataFrame =
    signatures(s, d).orderBy(col("doc_id"))

  private val o36 = s"$oSig ORDER BY doc_id"

  /** q37: LSH bucket statistics per band — bucket count, multi-doc buckets,
    * candidate pair count (sum of C(n,2) per bucket).
    */
  private def q37(s: SparkSession, d: String): DataFrame =
    bands(s, d)
      .groupBy(col("band_pos"), col("bkey"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("band_pos"))
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).cast("long")
          .as("n_multi_buckets"),
        sum(expr("cnt * (cnt - 1) DIV 2")).cast("long")
          .as("n_candidate_pairs"))
      .orderBy(col("band_pos"))

  private def o37: String =
    s"""WITH b AS (SELECT band_pos, bkey, count(*) AS cnt FROM ($oBands)
                   GROUP BY 1, 2)
       SELECT band_pos, count(*) AS n_buckets,
              CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_multi_buckets,
              CAST(sum(cnt * (cnt - 1) // 2) AS BIGINT) AS n_candidate_pairs
       FROM b GROUP BY band_pos ORDER BY band_pos"""

  /** q38: LSH candidate pairs verified by exact shingle Jaccard >= 0.25.
    * Candidates come only from shared band buckets; verification explodes
    * distinct shingles for candidate docs only.
    */
  private def q38(s: SparkSession, d: String): DataFrame = {
    // persist: the self-join would otherwise recompute the full signature
    // subtree on both sides (a production pipeline materializes the
    // signature table once and reuses it across all dedup queries)
    val b = bands(s, d).persist()
    val cands = b.as("x")
      .join(b.as("y"),
        col("x.band_pos") === col("y.band_pos") &&
        col("x.bkey") === col("y.bkey") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // verification shingles only materialize for docs that appear in some
    // candidate pair (semi-join restriction): at scale the candidate set is
    // a tiny fraction of the corpus, so the explode cost tracks candidates,
    // not corpus size. The oracle explodes all docs — same result, since
    // only candidate docs' shingles are ever consumed.
    // r15: the intersection runs IN-ROW over each doc's distinct-shingle
    // ARRAY via the count-only native kernel (q120's own measured stance:
    // the exploded shingle-grain join re-shuffles candidates × set-size
    // rows and lost 2× there) — the pair frame attaches two arrays by doc
    // id and never shuffles a shingle row; |A∪B| is inclusion–exclusion
    // over the same counts the exploded join produced.
    val candDocs = cands.select(col("doc_a").as("doc_id"))
      .union(cands.select(col("doc_b").as("doc_id"))).distinct()
    val sh = parallelize(s, documents(s, d))
      .join(candDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        graft.functions.DistinctShinglesExpression
          .distinctShingles(col("text")).as("shs")).persist()
    val out = cands
      .join(sh.select(col("doc_id").as("doc_a"), col("shs").as("sha")),
        Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shs").as("shb")),
        Seq("doc_b"))
      .withColumn("ni", graft.functions.IntersectCountExpression
        .intersectCount(col("sha"), col("shb")).cast("long"))
      .select(col("doc_a"), col("doc_b"),
        round(col("ni") / (size(col("sha")) + size(col("shb")) - col("ni")),
          6).as("jaccard"))
      .filter(col("jaccard") >= 0.25)
      .orderBy(col("doc_a"), col("doc_b"))
    Cached.scopedTo(out, b, sh)
  }

  /** o38 body without the final ORDER BY, reusable as a subquery (q97). */
  private def o38Body: String =
    s"""WITH cand AS MATERIALIZED (
         SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM ($oBands) x JOIN ($oBands) y
           ON x.band_pos = y.band_pos AND x.bkey = y.bkey
          AND x.doc_id < y.doc_id),
       sh AS MATERIALIZED (
         SELECT DISTINCT doc_id,
                unnest(list_transform(range(1, length(text) - ${ShingleLen - 2}),
                  i -> substr(text, i, $ShingleLen))) AS sh
         FROM documents),
       sz AS MATERIALIZED (
         SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       inter AS (
         SELECT doc_a, doc_b, count(*) AS ni
         FROM cand
         JOIN sh sa ON sa.doc_id = doc_a
         JOIN sh sb ON sb.doc_id = doc_b AND sb.sh = sa.sh
         GROUP BY 1, 2)
       SELECT doc_a, doc_b,
              round(ni / (za.sz + zb.sz - ni), 6) AS jaccard
       FROM inter
       JOIN sz za ON za.doc_id = doc_a
       JOIN sz zb ON zb.doc_id = doc_b
       WHERE round(ni / (za.sz + zb.sz - ni), 6) >= 0.25"""

  private def o38: String = s"$o38Body ORDER BY doc_a, doc_b"

  /** 16-bit SimHash over word tokens (md5 bit votes), computed by the
    * codegen'd native expression [[graft.functions.SimHashExpression]] —
    * one md5 per word voting all 16 bits at once, where the equivalent SQL
    * higher-order chain re-split and re-hashed the text per bit (16x).
    * Shuffle-free.
    */
  private val oSimhashExpr = """
    CAST(list_sum(list_transform(range(0, 16), k ->
      CASE WHEN 2 * len(list_filter(list_transform(
                 string_split_regex(trim(text), '\s+'), w -> md5(w)),
             h -> (((strpos('0123456789abcdef',
                      substr(h, (k // 4) + 1, 1)) - 1) >> (3 - (k % 4))) & 1)
                  = 1))
             > len(string_split_regex(trim(text), '\s+'))
      THEN (1 << k) ELSE 0 END)) AS INT)"""

  /** o102's 60-bit twin of [[oSimhashExpr]] (r12): same bit recipe through
    * md5 hex digit 14; 60 bits keep the BIGINT sign clear so the
    * fingerprint assembles as a plain sum of `1::BIGINT << k` terms.
    */
  /** o102's 60-bit SimHash at the WORD grain (r13 sf1 oracle-budget fix):
    * the r12 per-doc list expression re-tokenized and re-md5'd the whole
    * document once PER BIT (60× — 162M md5 calls at sf1, the >100 s
    * timeout); this computes md5 once per word occurrence, then the
    * majority vote per (doc, bit) as one integer aggregation. Bit
    * semantics identical: hex digit k//4 of the md5, bit 3-(k%4) within
    * the nibble, majority = strictly more than half of ALL occurrences
    * (duplicates counted, same multiset). */
  private val oSimhash64Ctes = """
    words AS MATERIALIZED (
      SELECT doc_id, md5(w) AS h
      FROM (SELECT doc_id,
              unnest(string_split_regex(trim(text), '\s+')) AS w
            FROM documents)),
    votes AS MATERIALIZED (
      SELECT doc_id, k,
             CAST(sum(((strpos('0123456789abcdef',
                    substr(h, CAST(k // 4 AS INT) + 1, 1)) - 1)
                  >> (3 - (k % 4))) & 1) AS BIGINT) AS ones,
             CAST(count(*) AS BIGINT) AS n
      FROM words, (SELECT unnest(range(0, 60)) AS k) ks
      GROUP BY doc_id, k)"""

  /** q39: SimHash near-dup groups — fingerprints shared by >1 document. */
  private def q39(s: SparkSession, d: String): DataFrame =
    parallelize(s, documents(s, d))
      .select(col("doc_id"),
        graft.functions.SimHashExpression.simhash(col("text")).as("simhash"))
      .groupBy(col("simhash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .filter(col("n_docs") > 1)
      .orderBy(col("simhash"))

  private def o39: String =
    s"""SELECT simhash, count(*) AS n_docs, min(doc_id) AS min_doc,
              max(doc_id) AS max_doc
       FROM (SELECT doc_id, $oSimhashExpr AS simhash FROM documents)
       GROUP BY simhash HAVING count(*) > 1 ORDER BY simhash"""

  /** q40: bounded word-3-gram Jaccard (all pairs over doc_id < 40 — the
    * exact-verification kernel that LSH candidates feed at scale).
    */
  private def q40(s: SparkSession, d: String): DataFrame = {
    val g = word3grams(documents(s, d).filter(col("doc_id") < 40))
    val sz = g.groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
    g.as("a")
      .join(g.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("ni"))
      .join(sz.as("za"), col("doc_a") === col("za.doc_id"))
      .join(sz.as("zb"), col("doc_b") === col("zb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(col("ni") / (col("za.c") + col("zb.c") - col("ni")), 6)
          .as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val o40 = """
    WITH d AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      FROM documents WHERE doc_id < 40),
    g AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(0, len(w) - 2),
               i -> w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3])) AS gram
      FROM d WHERE len(w) >= 3),
    sz AS (SELECT doc_id, count(*) AS c FROM g GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, round(ni / (za.c + zb.c - ni), 6) AS jaccard
    FROM inter
    JOIN sz za ON za.doc_id = doc_a
    JOIN sz zb ON zb.doc_id = doc_b
    ORDER BY doc_a, doc_b"""

  /** q97: near-dup CLUSTERS — the transitive closure of q38's verified
    * pairs (a~b, b~c => {a,b,c} is one dup group), the step that turns
    * pairwise similarity into the keep-one-per-cluster decision. Computed
    * by iterative min-label propagation with a convergence check: each
    * round every node adopts the smallest label among itself and its
    * neighbors; ≤ diameter rounds to fixpoint, and components here are
    * tiny (near-dup groups), so the loop is a handful of small-data jobs.
    * The per-round count() is a convergence test on an aggregate, not a
    * driver-side data loop. Oracle: DuckDB recursive CTE enumerating
    * reachable labels, min per node.
    */
  private def q97(s: SparkSession, d: String): DataFrame =
    clusterLabels(s, d)
      .groupBy(col("lab").as("cluster"))
      .agg(count(lit(1)).as("n_members"), max(col("doc")).as("max_doc"))
      .filter(col("n_members") > 1)
      .orderBy(col("cluster"))

  /** Doc-grain connected-component labels over q38's verified near-dup
    * pairs: (doc, lab) with lab = smallest doc_id in the component. Shared
    * by q97 (cluster rollup) and q157 (keep/drop ledger).
    *
    * Algorithm choice, measured not guessed (round 7): an alternating
    * large-star/small-star contraction (Kiveris et al., SoCC'14) was built,
    * verified output-identical at sf0.1, and benchmarked against this
    * min-label propagation — the arc (q97/q157/q165) ran ~20 s combined
    * under contraction vs ~14 s here, a ~2s/query REGRESSION, so it was
    * reverted. Why: contraction's O(log² n) round bound beats propagation's
    * O(diameter) only on long-path graphs, but a VERIFIED near-dup graph
    * (Jaccard-thresholded pairs) is a union of near-cliques — diameter 2-3
    * — so both converge in ~3 rounds and contraction just pays ~2x the
    * shuffles per round (two groupBy-min + join-backs + a distinct vs one
    * join + one aggregation). That argument holds at 100 TB: component
    * diameter is set by the similarity threshold, not the corpus size, so
    * propagation's round count stays ~3 while its per-round cost is the
    * smaller one. If this engine ever clusters a path-like relation (e.g.
    * citation chains), the contraction variant in git history (5666682) is
    * the right tool — for near-dup dedup it is not.
    */
  private def clusterLabels(s: SparkSession, d: String): DataFrame = {
    // localCheckpoint (eager) truncates lineage at the tiny pair set: the
    // iterative joins below must not chain plans back through q38's whole
    // signature/verification DAG — once cache blocks get evicted under a
    // long session's memory pressure, that lineage recomputes per
    // iteration and OOMs. Same per-iteration: labels stay a depth-1 plan.
    val pairs = q38(s, d).select(col("doc_a"), col("doc_b"))
      .localCheckpoint(true)
    val edges = pairs.union(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    var labels = edges.select(col("doc_a").as("doc")).distinct()
      .withColumn("lab", col("doc")).localCheckpoint(true)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < 20) {
      val prop = edges.join(labels, col("doc_a") === col("doc"))
        .select(col("doc_b").as("doc"), col("lab"), lit(false).as("own"))
      // convergence check rides the same aggregation instead of a separate
      // next-vs-old join+count job: each doc's own (pre-round) label is the
      // unique `own = true` row in the union, so `min(lab) < own_lab` marks
      // a change — one localCheckpoint job + one count on the materialized
      // result per round, halving the per-iteration job cost
      val next = labels.withColumn("own", lit(true)).union(prop)
        .groupBy(col("doc"))
        .agg(min(col("lab")).as("lab"),
          min(when(col("own"), col("lab"))).as("own_lab"))
      // pointer jumping (r12): shortcut each doc's label to its LABEL's
      // label — every label value is itself a node of the component, so
      // one extra |V|-row self-join per round doubles how far a low label
      // has travelled, making convergence O(log diameter) instead of
      // O(diameter). The r12 sf1 measurement is what forced this: a
      // re-rolled 10x corpus drew a denser near-dup graph whose longest
      // component exceeded the 20-round cap under plain propagation — the
      // near-clique diameter argument below holds for TYPICAL thresholded
      // graphs but is not a guarantee, and at 100 TB the cap must bound
      // ROUNDS, not the reachable diameter (2^20 diameter under jumping).
      // r15: the convergence count rides the checkpoint's own
      // materialization job (accumulator over a boolean flag column) —
      // one job per round instead of checkpoint + count (r14 VERDICT
      // "next round" #4; the flag column is dropped by the select below)
      val jumpedRaw = next.as("a")
        .join(next.select(col("doc").as("jd"), col("lab").as("jlab")).as("b"),
          col("a.lab") === col("b.jd"), "left")
        .select(col("a.doc").as("doc"),
          least(col("a.lab"), coalesce(col("jlab"), col("a.lab"))).as("lab"),
          col("a.own_lab").as("own_lab"))
        .withColumn("chg", col("lab") < col("own_lab"))
      val (jumped, nChanged) = org.apache.spark.sql.GraftShims
        .localCheckpointAndCount(jumpedRaw, Some("chg"))
      changed = nChanged
      labels = jumped.select(col("doc"), col("lab"))
      iter += 1
    }
    // fail loudly if a pathological long chain exceeded the iteration cap:
    // silently returning split clusters would be a wrong answer with no
    // oracle to catch it at production scale
    require(changed == 0,
      s"label propagation did not converge in $iter iterations " +
        "(component diameter exceeds 2^$iter) — raise the cap for this corpus")
    labels
  }

  private def o97: String =
    s"""WITH RECURSIVE
       pairs AS MATERIALIZED ($o38Body),
       edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
                 UNION ALL
                 SELECT doc_b, doc_a FROM pairs),
       nodes AS (SELECT DISTINCT src AS doc FROM edges),
       reach(doc, lab) AS (
         SELECT doc, doc FROM nodes
         UNION
         SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.doc),
       cc AS (SELECT doc, min(lab) AS lab FROM reach GROUP BY doc)
       SELECT lab AS cluster, count(*) AS n_members, max(doc) AS max_doc
       FROM cc GROUP BY lab HAVING count(*) > 1 ORDER BY cluster"""

  /** q102: SimHash neighbors within hamming distance <= 2 — the radius
    * search q39's exact-fingerprint grouping (hamming-0) cannot express.
    * Scale design is bit-band LSH by pigeonhole: split the fingerprint
    * into k+1 = 3 disjoint bands; two fingerprints differing in <= 2 bits
    * must agree EXACTLY on at least one band, so an equi-join per band
    * finds every such pair with zero false negatives. Candidates are then
    * verified with `bit_count(xor)`.
    *
    * Fingerprint width is the scale lever, and it is MEASURED, not argued
    * (r12): on the 16-bit fingerprint (2^5–2^6 buckets per band) the
    * two-decade scale curve read q102 at 22.6× for 10× rows — candidates
    * grow ~n²/buckets, the catalog's one super-linear entry. Rebuilt on
    * the 60-bit [[graft.functions.SimHash64Expression]] with 3 × 20-bit
    * bands (2^20 buckets per band, a ~2^15 candidate reduction); a still
    * larger corpus widens the fingerprint and bands again, exactly the
    * banded-MinHash trade.
    */
  private def q102(s: SparkSession, d: String): DataFrame = {
    // persist: fps feeds the band self-join (both sides) and two
    // verification re-joins — without it the full-corpus fingerprint scan
    // recomputes ~4x (same materialize-the-signature-table-once stance as
    // q38/q47/q104; Bench/Verify clearCache per query)
    val fps = parallelize(s, documents(s, d))
      .select(col("doc_id"),
        graft.functions.SimHash64Expression.simhash64(col("text")).as("fp"))
      .persist()
    val bands = fps.select(col("doc_id"),
      posexplode(array(
        shiftright(col("fp"), 40).bitwiseAND(lit(1048575L)),
        shiftright(col("fp"), 20).bitwiseAND(lit(1048575L)),
        col("fp").bitwiseAND(lit(1048575L)))).as(Seq("band_pos", "bval")))
    val cands = bands.as("x")
      .join(bands.as("y"),
        col("x.band_pos") === col("y.band_pos") &&
        col("x.bval") === col("y.bval") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val out = cands
      .join(fps.as("a"), col("doc_a") === col("a.doc_id"))
      .join(fps.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).cast("int")
          .as("hamming"))
      .filter(col("hamming") <= 2)
      .orderBy(col("doc_a"), col("doc_b"))
    Cached.scopedTo(out, fps)
  }

  private def o102: String =
    s"""WITH $oSimhash64Ctes,
       fp AS MATERIALIZED (
         SELECT doc_id,
                CAST(sum(CASE WHEN 2 * ones > n THEN (1::BIGINT << k)
                          ELSE 0::BIGINT END) AS BIGINT) AS fp
         FROM votes GROUP BY doc_id),
       bands AS MATERIALIZED (
         SELECT doc_id, band_pos,
                CASE band_pos WHEN 0 THEN (fp >> 40) & 1048575
                              WHEN 1 THEN (fp >> 20) & 1048575
                              ELSE fp & 1048575 END AS bval
         FROM fp, (SELECT unnest([0, 1, 2]) AS band_pos) bp),
       cand AS (
         SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM bands x JOIN bands y
           ON x.band_pos = y.band_pos AND x.bval = y.bval
          AND x.doc_id < y.doc_id)
       SELECT c.doc_a, c.doc_b,
              CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
       FROM cand c
       JOIN fp a ON a.doc_id = c.doc_a
       JOIN fp b ON b.doc_id = c.doc_b
       WHERE bit_count(xor(a.fp, b.fp)) <= 2
       ORDER BY doc_a, doc_b"""

  /** Fuzzy-decontamination verification threshold (q211). */
  private val FuzzyDecontamTau = 0.5

  /** q211: FUZZY eval-set decontamination — the near-dup complement of
    * q83's exact n-gram probe: training documents are flagged when they are
    * near-duplicates (exact shingle Jaccard >= 0.5) of any held-out eval
    * document (stand-in: `doc_id % 10 == 0`), catching the
    * lightly-paraphrased / whitespace-shifted benchmark copies an exact
    * n-gram match misses. This is the decontamination discipline modern LLM
    * data pipelines run before training (GPT-3's 13-gram fuzzy dedup
    * against eval sets is the canonical ancestor).
    *
    * Asymmetric by design, like q104: the eval set is benchmark-sized, so
    * its band table BROADCASTS — candidate generation is a broadcast-hash
    * probe on the training side (no corpus shuffle, no corpus², work
    * scales with train-side band hits). Verification then explodes
    * distinct shingles ONLY for docs in some candidate pair (semi-join
    * restriction, q38's stance). Output: one verdict row per contaminated
    * train doc — how many eval docs it collides with, the worst Jaccard,
    * and the first matching eval doc — i.e. the drop-list a pipeline would
    * anti-join against the corpus.
    */
  private def q211(s: SparkSession, d: String): DataFrame = {
    val b = bands(s, d).persist()
    val cands = b.filter(col("doc_id") % 10 =!= 0).as("t")
      .join(broadcast(b.filter(col("doc_id") % 10 === 0).as("e")),
        col("t.band_pos") === col("e.band_pos") &&
        col("t.bkey") === col("e.bkey"))
      .select(col("t.doc_id").as("train_doc"), col("e.doc_id").as("eval_doc"))
      .distinct()
    val candDocs = cands.select(col("train_doc").as("doc_id"))
      .union(cands.select(col("eval_doc").as("doc_id"))).distinct()
    // r15: in-row count-only intersection over per-doc shingle arrays —
    // q38's rewrite; ni = 0 pairs yield jaccard 0 and fall to the tau
    // filter exactly as the old inner intersection join dropped them
    val sh = parallelize(s, documents(s, d))
      .join(candDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        graft.functions.DistinctShinglesExpression
          .distinctShingles(col("text")).as("shs")).persist()
    val out = cands
      .join(sh.select(col("doc_id").as("train_doc"), col("shs").as("sha")),
        Seq("train_doc"))
      .join(sh.select(col("doc_id").as("eval_doc"), col("shs").as("shb")),
        Seq("eval_doc"))
      .withColumn("ni", graft.functions.IntersectCountExpression
        .intersectCount(col("sha"), col("shb")).cast("long"))
      .select(col("train_doc"), col("eval_doc"),
        round(col("ni") / (size(col("sha")) + size(col("shb")) - col("ni")),
          6).as("jaccard"))
      .filter(col("jaccard") >= FuzzyDecontamTau)
      .groupBy(col("train_doc"))
      .agg(count(lit(1)).as("n_eval_dups"),
        max(col("jaccard")).as("max_jaccard"),
        min(col("eval_doc")).as("first_eval_match"))
      .orderBy(col("train_doc"))
    Cached.scopedTo(out, b, sh)
  }

  private def o211: String =
    s"""WITH b AS MATERIALIZED ($oBands),
       cand AS (
         SELECT DISTINCT t.doc_id AS train_doc, e.doc_id AS eval_doc
         FROM b t JOIN b e
           ON t.band_pos = e.band_pos AND t.bkey = e.bkey
          AND t.doc_id % 10 != 0 AND e.doc_id % 10 = 0),
       sh AS MATERIALIZED (
         SELECT DISTINCT doc_id,
                unnest(list_transform(range(1, length(text) - ${ShingleLen - 2}),
                  i -> substr(text, i, $ShingleLen))) AS sh
         FROM documents),
       sz AS MATERIALIZED (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       inter AS (
         SELECT train_doc, eval_doc, count(*) AS ni
         FROM cand
         JOIN sh sa ON sa.doc_id = train_doc
         JOIN sh sb ON sb.doc_id = eval_doc AND sb.sh = sa.sh
         GROUP BY 1, 2),
       pairs AS (
         SELECT train_doc, eval_doc,
                round(ni / CAST(za.sz + zb.sz - ni AS DOUBLE), 6) AS jaccard
         FROM inter
         JOIN sz za ON za.doc_id = train_doc
         JOIN sz zb ON zb.doc_id = eval_doc)
       SELECT train_doc, count(*) AS n_eval_dups,
              max(jaccard) AS max_jaccard,
              min(eval_doc) AS first_eval_match
       FROM pairs WHERE jaccard >= $FuzzyDecontamTau
       GROUP BY train_doc ORDER BY train_doc"""

  /** q104: INCREMENTAL near-dup screening — a new ingest batch (stand-in:
    * `doc_id % 10 == 0`) checked against the existing corpus via the same
    * banded-MinHash index as q37/q38, the CCNet/RefinedWeb-style pass that
    * avoids re-deduping the whole corpus per ingest. Asymmetric by design:
    * at 100 TB the corpus's band table is a write-once persisted index and
    * the (small) batch side broadcasts or bucket-joins into it, so work
    * scales with the batch and its band collisions, never with corpus².
    * Output: each incoming doc with its count of distinct candidate dups
    * already in the corpus (downstream would Jaccard-verify exactly like
    * q38 and drop confirmed dups).
    */
  private def q104(s: SparkSession, d: String): DataFrame = {
    val b = bands(s, d).persist()
    val inc = b.filter(col("doc_id") % 10 === 0)
    val ref = b.filter(col("doc_id") % 10 =!= 0)
    val out = inc.as("i")
      .join(ref.as("r"),
        col("i.band_pos") === col("r.band_pos") &&
        col("i.bkey") === col("r.bkey"))
      .select(col("i.doc_id").as("doc_id"), col("r.doc_id").as("ref_doc"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ref_cands"))
      .orderBy(col("doc_id"))
    Cached.scopedTo(out, b)
  }

  private def o104: String =
    s"""WITH b AS MATERIALIZED ($oBands),
       cand AS (
         SELECT DISTINCT i.doc_id AS doc_id, r.doc_id AS ref_doc
         FROM b i JOIN b r
           ON i.band_pos = r.band_pos AND i.bkey = r.bkey
         WHERE i.doc_id % 10 = 0 AND r.doc_id % 10 <> 0)
       SELECT doc_id, count(*) AS n_ref_cands
       FROM cand GROUP BY doc_id ORDER BY doc_id"""

  /** q120: EXACT set-similarity self-join by prefix filtering (PPJoin-style,
    * public literature) — the deterministic counterpart to the probabilistic
    * MinHash screen (q36-q38): guaranteed no false negatives at Jaccard ≥ τ.
    *
    * Sets are 15-char shingles: prefix filtering only pays when the token
    * space has a rare tail, and on this corpus the WORD vocabulary is ~30
    * tokens whose minimum df is half the corpus — every prefix token is
    * common, candidates degenerate to all-pairs (measured: 107 s / 11.4 M
    * candidates at sf0.1). At 15 chars the vocabulary is ~90× the corpus
    * with median df = 1, so each doc's prefix is genuinely rare and
    * candidates collapse to ~0.6% of pairs. The same tuning question
    * (are my set elements rare enough to filter on?) governs any real
    * deployment of this operator.
    *
    * Token sets ordered by ascending document frequency (rarest first,
    * token as tie-break — a total order needing NO global rank window, just
    * the (df, token) tuple sort inside each doc's collected set). Any two
    * sets with Jaccard ≥ τ=0.6 must share a token within their first
    * ⌊(1-τ)·|A|⌋+1 tokens of that order, so candidates are generated only
    * from the rare-token prefix inverted index — bucket population is
    * bounded by prefix-token df, never corpus² — and are further pruned by
    * PPJoin's length filter (τ·|A| ≤ |B| ≤ |A|/τ). Candidates then verify
    * by `array_intersect` over the per-doc token arrays the prefix stage
    * already collected — per-candidate work is O(|A|+|B|) hashing with no
    * token-grain shuffle (the exploded-join alternative re-shuffles
    * candidates × set-size rows; measured 2× the whole query's time). The
    * df side joins back on the token hash, reusing the partitioning its own
    * aggregation just produced (no broadcast: a shingle vocabulary scales
    * with the corpus). Round-6: the per-doc distinct moved into the row
    * (array_distinct — one corpus-wide shuffle gone) and every token-grain
    * exchange keys on xxhash64(tok) instead of the 15-char string; the
    * strings travel only where verification needs them.
    */
  private def q120(s: SparkSession, d: String): DataFrame = {
    val tau = 0.6
    val sh = 15
    // per-row array_distinct replaces a corpus-wide DISTINCT — one whole
    // token-grain shuffle gone (shingles only repeat within a document)
    val toks = parallelize(s, documents(s, d))
      .select(col("doc_id"),
        explode(array_distinct(
          transform(sequence(lit(1), length(col("text")) - lit(sh - 1)),
            i => col("text").substr(i, lit(sh))))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    // df counted at 8-byte hash grain (a 64-bit collision would merge two
    // tokens' counts — it only perturbs the prefix ORDER heuristic, never
    // correctness, because verification below intersects the true strings)
    val dfreq = toks.groupBy(col("h")).agg(count(lit(1)).as("c"))
    // persist: feeds the prefix self-join (both sides) and the two
    // verification lookups — the signature-table-once stance of q38/q47
    val sets = toks.join(dfreq, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("c"), col("tok"), col("h"))))
        .as("ordered"))
      .select(col("doc_id"), size(col("ordered")).cast("long").as("n"),
        transform(col("ordered"), p => p.getField("tok")).as("toks"),
        transform(col("ordered"), p => p.getField("h")).as("hs"))
      .persist()
    // the inverted-index self-join exchanges 8-byte hash keys, not 15-char
    // strings — candidates are (doc, doc) pairs either way, and the exact
    // string-grain verification keeps hash collisions harmless
    val prefix = sets
      .select(col("doc_id"), col("n"),
        explode(slice(col("hs"), lit(1),
          (floor(lit(0.4) * col("n")) + 1).cast("int"))).as("h"))
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          col("b.n").between(ceil(lit(tau) * col("a.n")),
            floor(col("a.n") / lit(tau))))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .distinct()
    val out = cand
      .join(sets.select(col("doc_id").as("da"), col("toks").as("ta")), Seq("da"))
      .join(sets.select(col("doc_id").as("db"), col("toks").as("tb")), Seq("db"))
      // r15: count-only native intersection (r14 VERDICT "next round" #7)
      // — |A ∩ B| without materializing the matched-token array; the
      // candidate set, the exact string-grain verification, and the
      // Jaccard filter are unchanged
      .withColumn("overlap",
        graft.functions.IntersectCountExpression
          .intersectCount(col("ta"), col("tb")).cast("long"))
      .withColumn("jac",
        col("overlap") / (col("na") + col("nb") - col("overlap")))
      .filter(col("jac") >= tau)
      .select(col("da").as("doc_a"), col("db").as("doc_b"), col("na"),
        col("nb"), col("overlap"), round(col("jac"), 6).as("jac"))
      .orderBy(col("jac").desc, col("doc_a"), col("doc_b"))
      .limit(15)
    Cached.scopedTo(out, sets)
  }

  private val o120 = """
    WITH toks AS MATERIALIZED (
      SELECT DISTINCT doc_id, substr(text, i, 15) AS tok
      FROM (SELECT doc_id, text,
                   unnest(range(1, length(text) - 13)) AS i
            FROM documents)),
    dfreq AS MATERIALIZED (
      SELECT tok, count(*) AS c, row_number() OVER (ORDER BY tok) AS tid
      FROM toks GROUP BY tok),
    itoks AS MATERIALIZED (
      SELECT t.doc_id, f.tid FROM toks t JOIN dfreq f ON t.tok = f.tok),
    ranked AS (
      SELECT t.doc_id, t.tok,
             row_number() OVER (PARTITION BY t.doc_id ORDER BY f.c, t.tok)
               AS rn,
             count(*) OVER (PARTITION BY t.doc_id) AS n
      FROM toks t JOIN dfreq f ON t.tok = f.tok),
    prefix AS MATERIALIZED (
      SELECT doc_id, n, tok FROM ranked
      WHERE rn <= floor(CAST(0.4 AS DOUBLE) * n) + 1),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.n AS na, b.n AS nb
      FROM prefix a JOIN prefix b
        ON a.tok = b.tok AND a.doc_id < b.doc_id
       AND b.n BETWEEN ceil(CAST(0.6 AS DOUBLE) * a.n)
                   AND floor(a.n / CAST(0.6 AS DOUBLE))),
    -- r13 sf1-budget: the verification intersection counts shared tokens
    -- through an INTEGER dictionary (tid) instead of 15-char string keys —
    -- the candidate×token probe stream is the audit's deliberate cost, but
    -- string hashing tripled it (>200 s -> ~280 s total at sf1's 877k
    -- candidate pairs; exact, no hash-collision shortcut)
    ov AS (
      SELECT c.da, c.db, c.na, c.nb, count(*) AS overlap
      FROM cand c
      JOIN itoks ta ON ta.doc_id = c.da
      JOIN itoks tb ON tb.doc_id = c.db AND tb.tid = ta.tid
      GROUP BY c.da, c.db, c.na, c.nb)
    SELECT da AS doc_a, db AS doc_b, na, nb, overlap,
           round(overlap / (na + nb - overlap), 6) AS jac
    FROM ov
    WHERE overlap / (na + nb - overlap) >= 0.6
    ORDER BY jac DESC, doc_a, doc_b LIMIT 15"""

  /** q132: duplicate-content ratio — for each document, the fraction of its
    * distinct word-5-grams that also appear in at least one OTHER document
    * (the Gopher/RefinedWeb "duplicate n-gram fraction" quality signal; docs
    * above a threshold get dropped or down-weighted before training).
    *
    * Two shuffles, both on natural keys: one n-gram-grain count (how many
    * docs contain each gram — map-side-combined since grams are
    * per-doc-distinct before the explode), one doc-grain rollup of the
    * shared fraction. Nothing pairwise, nothing quadratic: unlike the
    * jaccard family this never forms doc pairs, so it runs on the WHOLE
    * corpus at any scale — it is the cheap screen that feeds the expensive
    * pairwise verifiers.
    */
  private val DupGramN = 5

  /** q132: duplicate n-gram ratio, the share of each document's distinct word
    * 5-grams that also occur in another document. */
  private def q132(s: SparkSession, d: String): DataFrame = {
    val grams = parallelize(s, documents(s, d))
      .withColumn("ws", split(trim(col("text")), "\\s+"))
      .filter(size(col("ws")) >= DupGramN)
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(1), size(col("ws")) - lit(DupGramN - 1)),
          i => concat_ws(" ", slice(col("ws"), i, lit(DupGramN))))))
        .as("g"))
    val counts = grams.groupBy(col("g"))
      .agg(count(lit(1)).as("nd"))
    grams.join(counts, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("nd") >= 2, 1).otherwise(0)).cast("long")
          .as("n_shared"))
      .withColumn("dup_ratio",
        round(col("n_shared").cast("double") / col("n_grams"), 6))
      .orderBy(col("dup_ratio").desc, col("doc_id"))
      .limit(100)
  }

  private val o132 = s"""
    WITH docs AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
      FROM documents),
    grams AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(ws) - ${DupGramN - 2}),
               i -> array_to_string(list_slice(ws, i, i + ${DupGramN - 1}),
                 ' '))) AS g
      FROM docs WHERE len(ws) >= $DupGramN),
    counts AS (SELECT g, count(*) AS nd FROM grams GROUP BY g)
    SELECT doc_id, count(*) AS n_grams,
           CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared,
           round(CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS dup_ratio
    FROM grams JOIN counts USING (g)
    GROUP BY doc_id
    ORDER BY dup_ratio DESC, doc_id LIMIT 100"""

  private val SegWords = 10

  /** q141: segment-grain exact dedup (the CCNet/RefinedWeb paragraph-dedup
    * pass, at fixed 10-word segment grain since this corpus has no newlines):
    * every document is cut into consecutive word segments, and each distinct
    * segment text is kept ONLY at its globally-first occurrence — first by
    * (doc_id, seg_idx), a total deterministic order. Output is the per-doc
    * retention ledger the pipeline uses to rewrite or down-weight documents.
    *
    * Scale: one hash aggregation at segment grain (map-side-combinable min of
    * the composite occurrence key) and one equi-join back on the segment —
    * which reuses the partitioning the aggregation just produced. Work is
    * linear in total segments; nothing pairwise anywhere, so unlike the
    * jaccard family this runs over the full corpus at any scale.
    */
  /** (doc_id, seg_idx, seg, okey) segment stream shared by q141's ledger
    * and q173's rewrite. The composite occurrence key is a STRUCT, which
    * compares lexicographically by field, so (doc_id, seg_idx) is a total
    * order with no width assumption — a 10k-word document (1000+ segments)
    * cannot collide into a neighboring doc_id the way the earlier
    * doc_id*1000+seg_idx arithmetic key silently did (round-5 VERDICT #2).
    */
  private def segmentStream(s: SparkSession, d: String): DataFrame =
    parallelize(s, documents(s, d))
      .withColumn("ws", split(trim(col("text")), "\\s+"))
      .select(col("doc_id"),
        posexplode(expr(
          s"""transform(sequence(0, CAST(ceil(size(ws) / $SegWords.0) AS INT) - 1),
              i -> concat_ws(' ', slice(ws, i * $SegWords + 1, $SegWords)))"""))
          .as(Seq("seg_idx", "seg")))
      .withColumn("okey", struct(col("doc_id"), col("seg_idx")))

  /** q141: segment-grain exact dedup, each distinct 10-word segment kept only
    * at its first occurrence, reported per document. */
  private def q141(s: SparkSession, d: String): DataFrame = {
    val segs = segmentStream(s, d)
    val firsts = segs.groupBy(col("seg"))
      .agg(min(col("okey")).as("keep_key"))
    segs.join(firsts, Seq("seg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("okey") === col("keep_key"), 1L).otherwise(0L))
          .cast("long").as("n_kept"))
      .select(col("doc_id"), col("n_segs"), col("n_kept"),
        (col("n_segs") - col("n_kept")).as("n_removed"),
        round(col("n_kept").cast("double") / col("n_segs"), 6)
          .as("kept_ratio"))
      .orderBy(col("doc_id"))
  }

  // oracle expresses "first occurrence by (doc_id, seg_idx)" as a window
  // row_number over the same lexicographic order — no composite-key
  // arithmetic on either side, so no width bound to drift on
  private val o141 = s"""
    WITH docs AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
      FROM documents),
    segs AS (
      SELECT doc_id, CAST(i AS INT) AS seg_idx,
             array_to_string(
               list_slice(ws, i * $SegWords + 1, i * $SegWords + $SegWords),
               ' ') AS seg
      FROM (SELECT doc_id, ws,
                   unnest(range(0, CAST(ceil(len(ws) / $SegWords.0) AS BIGINT)))
                     AS i
            FROM docs)),
    marked AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx)
               AS rn
      FROM segs)
    SELECT doc_id, count(*) AS n_segs,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           count(*) - CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed,
           round(CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS kept_ratio
    FROM marked
    GROUP BY doc_id ORDER BY doc_id"""

  /** q173: segment-dedup REWRITE — q141 reports the retention ledger; this
    * produces the artifact the ledger exists for: the cleaned corpus, each
    * document reassembled from only its kept (globally-first-occurrence)
    * segments, in original order. Documents whose every segment first
    * occurred elsewhere vanish entirely — that IS the dedup verdict for a
    * fully-derivative document, and both engines omit the empty group
    * identically.
    *
    * Scale: q141's two linear stages plus one more hash aggregation at
    * document grain; the in-order reassembly is a sort_array over one
    * document's kept segments (bounded by document size), never a global
    * or window sort.
    */
  private def q173(s: SparkSession, d: String): DataFrame = {
    val segs = segmentStream(s, d)
    val firsts = segs.groupBy(col("seg"))
      .agg(min(col("okey")).as("keep_key"))
    segs.join(firsts, Seq("seg"))
      .filter(col("okey") === col("keep_key"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept_segs"),
        array_join(
          expr("transform(sort_array(collect_list(struct(seg_idx, seg))), p -> p.seg)"),
          " ").as("clean_text"))
      .select(col("doc_id"), col("n_kept_segs"),
        length(col("clean_text")).cast("long").as("clean_chars"),
        col("clean_text"))
      .orderBy(col("doc_id"))
  }

  private val o173 = s"""
    WITH docs AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
      FROM documents),
    segs AS (
      SELECT doc_id, CAST(i AS INT) AS seg_idx,
             array_to_string(
               list_slice(ws, i * $SegWords + 1, i * $SegWords + $SegWords),
               ' ') AS seg
      FROM (SELECT doc_id, ws,
                   unnest(range(0, CAST(ceil(len(ws) / $SegWords.0) AS BIGINT)))
                     AS i
            FROM docs)),
    marked AS (
      SELECT doc_id, seg_idx, seg,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx)
               AS rn
      FROM segs)
    SELECT doc_id, count(*) AS n_kept_segs,
           CAST(length(string_agg(seg, ' ' ORDER BY seg_idx)) AS BIGINT)
             AS clean_chars,
           string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
    FROM marked WHERE rn = 1
    GROUP BY doc_id ORDER BY doc_id"""

  private val SpanLen = 30

  /** q142: duplicated-span mining — surface the exact character spans copied
    * across documents (the Lee-et-al. "exact substring deduplication" signal,
    * at fixed 30-char window grain over every offset). Where q132 scores each
    * DOC by how much of it is shared, this reports the SPANS themselves with
    * their corpus reach — the report a curator reads before deciding what the
    * dedup pass should cut.
    *
    * Scale: the window explode is linear in corpus bytes (one row per char
    * offset), but the big shuffle must NOT carry raw 30-char span text
    * (round-5 VERDICT finding #3: ~30x corpus amplification of mostly-unique
    * string keys = a multi-PB shuffle at 100 TB). Pass 1 therefore drops the
    * text before the exchange and aggregates on xxhash64(span) — 8-byte keys,
    * map-side-combinable counts. Pass 2 re-explodes (linear recompute beats
    * materializing a 30x corpus), semi-joins on the few winning hashes (AQE
    * broadcasts the filtered hash set at runtime), and recounts at span-text
    * grain — which makes the result EXACT even under 64-bit hash collisions:
    * the hash-grain filter only ever admits a superset, and the text-grain
    * recount re-applies the >= 2-docs cut and the text tie-break. The 100-TB
    * form additionally strides/minimizer-samples the offsets (Lee et al. use
    * suffix arrays for the same reason) — every-offset windows are the
    * exhaustive special case this report keeps for exactness.
    */
  private def q142(s: SparkSession, d: String): DataFrame = {
    def spans = parallelize(s, documents(s, d))
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(1), greatest(length(col("text")) - lit(SpanLen - 1),
            lit(1))),
          p => col("text").substr(p, lit(SpanLen)))).as("span"))
    // ">= 2 distinct docs" at hash grain is exactly "min(doc) != max(doc)"
    // — a plain map-side-combinable min/max instead of countDistinct's
    // Expand + two-level aggregation over the 30x-amplified stream
    val hot = spans
      .select(xxhash64(col("span")).as("h"), col("doc_id"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select(col("h"))
    spans
      .withColumn("h", xxhash64(col("span")))
      .join(hot, Seq("h"), "left_semi")
      .groupBy(col("span"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("span"))
      .limit(20)
  }

  private val o142 = s"""
    WITH spans AS (
      SELECT doc_id, substr(text, CAST(p AS INT), $SpanLen) AS span
      FROM (SELECT doc_id, text,
                   unnest(range(1, greatest(length(text) - ${SpanLen - 2}, 2)))
                     AS p
            FROM documents))
    SELECT span, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ,
           min(doc_id) AS first_doc
    FROM spans
    GROUP BY span HAVING count(DISTINCT doc_id) >= 2
    ORDER BY n_docs DESC, n_occ DESC, span LIMIT 20"""

  private val MinimizerW = 8

  /** q171: minimizer-sampled duplicated-span mining — q142's 100-TB form
    * made concrete (the VERDICT-r5 "stride/minimizer sampling" follow-up,
    * the reason Lee et al. reach for suffix arrays). Instead of shipping
    * every one of the ~30x-corpus offsets into the aggregation, each
    * document selects offsets whose span-hash is the minimum of the
    * $MinimizerW-offset window they open: the selection is content-defined
    * — two documents sharing a region >= SpanLen + 2w chars co-select at
    * least one identical span — so corpus reach is still measured on the
    * shared content, from a ~1/w sample of the offsets.
    *
    * Scale: selection is per-ROW (higher-order functions over the offset
    * array — no window operator, no shuffle, no sort); only the sampled
    * ~1/w stream enters q142's hash-keyed two-pass (8-byte shuffle keys,
    * min/max distinct-doc prefilter, exact text-grain recount of winners).
    * The two reductions compose: vs q142, the big exchange shrinks ~30x by
    * hashing and a further ~8x by sampling. The trade, stated honestly:
    * occurrence counts are of SAMPLED occurrences, and duplicated regions
    * shorter than SpanLen + 2w can be missed — q142 stays the exhaustive
    * report; this is the one you run on the full crawl.
    */
  private def q171(s: SparkSession, d: String): DataFrame = {
    // selection runs in the native rolling-hash kernel
    // ([[graft.functions.MinimizerOffsetsExpression]], codegen'd, O(1) per
    // offset); the oracle recomputes the same polynomial hash per offset
    // as exact integer SQL — engine-independent selection with no
    // md5-per-offset cost anywhere on the Spark side
    def sampled = parallelize(s, documents(s, d))
      .select(col("doc_id"), col("text"),
        explode(graft.functions.MinimizerOffsetsExpression.offsets(
          col("text"), SpanLen, MinimizerW)).as("p"))
      .select(col("doc_id"),
        col("text").substr(col("p"), lit(SpanLen)).as("span"))
    val hot = sampled
      .select(xxhash64(col("span")).as("h"), col("doc_id"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select(col("h"))
    sampled
      .withColumn("h", xxhash64(col("span")))
      .join(hot, Seq("h"), "left_semi")
      .groupBy(col("span"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("span"))
      .limit(20)
  }

  private val o171 = s"""
    WITH d AS (
      SELECT doc_id, text,
             list_transform(
               range(1, greatest(length(text) - ${SpanLen - 2}, 2)),
               p -> list_reduce(
                      list_prepend(CAST(0 AS BIGINT),
                        list_transform(
                          range(CAST(p AS INT),
                                CAST(p AS INT) + least($SpanLen,
                                  length(text) - CAST(p AS INT) + 1)),
                          i -> CAST(ascii(substr(text, CAST(i AS INT), 1))
                                 AS BIGINT))),
                      (a, b) -> (a * 31 + b) % 1000000007)) AS hs
      FROM documents),
    sel AS (
      SELECT doc_id, text,
             unnest(list_filter(range(1, len(hs) + 1),
               p -> hs[p] = list_min(
                      list_slice(hs, p,
                        least(p + ${MinimizerW - 1}, len(hs)))))) AS p
      FROM d),
    spans AS (
      SELECT doc_id, substr(text, CAST(p AS INT), $SpanLen) AS span
      FROM sel)
    SELECT span, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ,
           min(doc_id) AS first_doc
    FROM spans
    GROUP BY span HAVING count(DISTINCT doc_id) >= 2
    ORDER BY n_docs DESC, n_occ DESC, span LIMIT 20"""

  /** q143: sketch-accuracy audit — for every LSH candidate pair (q38's
    * screen), the MinHash ESTIMATE of Jaccard (matching signature components
    * / 8) against the EXACT char-5-shingle Jaccard the signature estimates,
    * plus the absolute error. This is the calibration loop that tells a
    * pipeline operator whether 8 permutations / 2 bands are enough before
    * trusting the screen on the full corpus.
    *
    * Scale: candidates come only from band buckets (q38's bound); the two
    * signature lookups and two shingle-set lookups are equi-joins on doc_id;
    * exact-Jaccard work is restricted to candidate docs via semi-join exactly
    * as in q38.
    */
  /** Shared by q143 (per-pair audit) and q207 (threshold sweep): every LSH
    * candidate pair with its MinHash-estimated AND exact shingle Jaccard
    * (unrounded doubles; absent-overlap exact coalesced to 0). Returns the
    * frame plus the two persisted intermediates for the caller's
    * [[Cached.scopedTo]]. */
  private def candJaccard(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    // ONE persisted signature pass feeds everything: the band explode (both
    // sides of the candidate self-join) and the two per-pair signature
    // lookups — without it the CPU-bound signature subtree evaluates 4x
    val sig = signatures(s, d).persist()
    val b = sig.filter(col("mh0").isNotNull).select(col("doc_id"),
      posexplode(bandArr).as(Seq("band_pos", "bkey")))
    val cands = b.as("x")
      .join(b.as("y"),
        col("x.band_pos") === col("y.band_pos") &&
        col("x.bkey") === col("y.bkey") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val matches = (0 until NumHashes)
      .map(j => when(col(s"a.mh$j") === col(s"b.mh$j"), 1).otherwise(0))
      .reduce(_ + _)
    val est = cands
      .join(sig.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (matches / lit(NumHashes.toDouble)).as("est_jac"))
    val candDocs = cands.select(col("doc_a").as("doc_id"))
      .union(cands.select(col("doc_b").as("doc_id"))).distinct()
    // r15: in-row count-only intersection over per-doc shingle arrays —
    // same rewrite (and scale argument) as q38's verification
    val sh = parallelize(s, documents(s, d))
      .join(candDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        graft.functions.DistinctShinglesExpression
          .distinctShingles(col("text")).as("shs")).persist()
    val exact = cands
      .join(sh.select(col("doc_id").as("doc_a"), col("shs").as("sha")),
        Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shs").as("shb")),
        Seq("doc_b"))
      .withColumn("ni", graft.functions.IntersectCountExpression
        .intersectCount(col("sha"), col("shb")).cast("long"))
      .select(col("doc_a"), col("doc_b"),
        (col("ni") / (size(col("sha")) + size(col("shb")) - col("ni")))
          .as("exact_jac"),
        (col("ni") / size(col("sha"))).as("cont_a"),
        (col("ni") / size(col("shb"))).as("cont_b"))
    val pairs = est.join(exact, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("est_jac"),
        coalesce(col("exact_jac"), lit(0.0)).as("exact_jac"),
        coalesce(col("cont_a"), lit(0.0)).as("cont_a"),
        coalesce(col("cont_b"), lit(0.0)).as("cont_b"))
    (pairs, sig, sh)
  }

  /** q143: MinHash accuracy audit, each LSH candidate pair's estimated
    * against its exact shingle Jaccard. */
  private def q143(s: SparkSession, d: String): DataFrame = {
    val (pairs, sig, sh) = candJaccard(s, d)
    val out = pairs
      .select(col("doc_a"), col("doc_b"),
        round(col("est_jac"), 6).as("est_jac"),
        round(col("exact_jac"), 6).as("exact_jac"),
        round(abs(col("est_jac") - col("exact_jac")), 6).as("abs_err"))
      .orderBy(col("doc_a"), col("doc_b"))
    Cached.scopedTo(out, sig, sh)
  }

  /** Jaccard tiers for q207's sweep — 0.1-step literals, exactly the same
    * doubles on both engines, compared with >= against exact ratios and
    * k/$NumHashes estimates (no rounding in the comparison path). */
  private val SweepTiers = Seq("0.3", "0.4", "0.5", "0.6", "0.7", "0.8", "0.9")

  /** q207: LSH threshold calibration sweep — the tune-your-dedup-gate
    * readout. Over the SAME candidate pairs and (estimated, exact) Jaccards
    * as q143, roll up per candidate threshold tau: how many candidates the
    * banded-LSH gate admitted (constant across tiers — that is the gate),
    * how many are truly >= tau (candidate precision: LSH admission vs
    * intent), how many the cheap MinHash-estimate filter would keep, and
    * the estimate-vs-truth confusion (precision/recall of thresholding the
    * estimate instead of the exact Jaccard — the decision a 100 TB pipeline
    * actually makes, since exact verification is what the sweep prices).
    * Work stays candidate-bounded: the tier explosion multiplies PAIRS
    * (not the corpus) by |tiers|.
    */
  private def q207(s: SparkSession, d: String): DataFrame = {
    val (pairs, sig, sh) = candJaccard(s, d)
    val tiers = array(SweepTiers.map(t => lit(t.toDouble)): _*)
    val out = pairs
      .withColumn("tau", explode(tiers))
      .groupBy(col("tau"))
      .agg(
        count(lit(1)).as("n_cand"),
        sum(when(col("exact_jac") >= col("tau"), 1L).otherwise(0L))
          .cast("long").as("n_true"),
        sum(when(col("est_jac") >= col("tau"), 1L).otherwise(0L))
          .cast("long").as("n_est"),
        sum(when(col("est_jac") >= col("tau") &&
            col("exact_jac") >= col("tau"), 1L).otherwise(0L))
          .cast("long").as("n_tp"))
      .select(col("tau"), col("n_cand"), col("n_true"), col("n_est"),
        col("n_tp"),
        round(col("n_true") / col("n_cand").cast("double"), 6)
          .as("cand_precision"),
        round(when(col("n_est") > 0,
            col("n_tp") / col("n_est").cast("double")).otherwise(lit(0.0)), 6)
          .as("est_precision"),
        round(when(col("n_true") > 0,
            col("n_tp") / col("n_true").cast("double")).otherwise(lit(0.0)), 6)
          .as("est_recall"))
      .orderBy(col("tau"))
    Cached.scopedTo(out, sig, sh)
  }

  private def o207: String =
    s"""WITH b AS MATERIALIZED ($oBands),
       cand AS MATERIALIZED (
         SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM b x JOIN b y
           ON x.band_pos = y.band_pos AND x.bkey = y.bkey
          AND x.doc_id < y.doc_id),
       sig AS MATERIALIZED ($oSig),
       est AS MATERIALIZED (
         SELECT doc_a, doc_b,
                (${(0 until NumHashes)
                  .map(j => s"CASE WHEN a.mh$j = b.mh$j THEN 1 ELSE 0 END")
                  .mkString(" + ")}) / ${NumHashes}.0 AS est_jac
         FROM cand
         JOIN sig a ON a.doc_id = doc_a
         JOIN sig b ON b.doc_id = doc_b),
       sh AS MATERIALIZED (
         SELECT DISTINCT doc_id,
                unnest(list_transform(range(1, length(text) - ${ShingleLen - 2}),
                  i -> substr(text, i, $ShingleLen))) AS sh
         FROM documents),
       sz AS MATERIALIZED (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       exact AS MATERIALIZED (
         SELECT doc_a, doc_b, ni / (za.sz + zb.sz - ni) AS exact_jac
         FROM (SELECT doc_a, doc_b, count(*) AS ni
               FROM cand
               JOIN sh sa ON sa.doc_id = doc_a
               JOIN sh sb ON sb.doc_id = doc_b AND sb.sh = sa.sh
               GROUP BY 1, 2) i
         JOIN sz za ON za.doc_id = doc_a
         JOIN sz zb ON zb.doc_id = doc_b),
       pairs AS (
         SELECT est.doc_a, est.doc_b, est.est_jac,
                coalesce(exact.exact_jac, 0) AS exact_jac
         FROM est LEFT JOIN exact
           ON exact.doc_a = est.doc_a AND exact.doc_b = est.doc_b),
       tiers AS (SELECT unnest([${SweepTiers.mkString(", ")}]) AS tau)
       SELECT t.tau, CAST(count(*) AS BIGINT) AS n_cand,
              CAST(sum(CASE WHEN exact_jac >= t.tau THEN 1 ELSE 0 END)
                AS BIGINT) AS n_true,
              CAST(sum(CASE WHEN est_jac >= t.tau THEN 1 ELSE 0 END)
                AS BIGINT) AS n_est,
              CAST(sum(CASE WHEN est_jac >= t.tau AND exact_jac >= t.tau
                THEN 1 ELSE 0 END) AS BIGINT) AS n_tp,
              round(sum(CASE WHEN exact_jac >= t.tau THEN 1 ELSE 0 END)
                / CAST(count(*) AS DOUBLE), 6) AS cand_precision,
              round(CASE WHEN sum(CASE WHEN est_jac >= t.tau THEN 1 ELSE 0
                  END) > 0
                THEN sum(CASE WHEN est_jac >= t.tau AND exact_jac >= t.tau
                    THEN 1 ELSE 0 END)
                  / CAST(sum(CASE WHEN est_jac >= t.tau THEN 1 ELSE 0 END)
                    AS DOUBLE)
                ELSE 0.0 END, 6) AS est_precision,
              round(CASE WHEN sum(CASE WHEN exact_jac >= t.tau THEN 1 ELSE 0
                  END) > 0
                THEN sum(CASE WHEN est_jac >= t.tau AND exact_jac >= t.tau
                    THEN 1 ELSE 0 END)
                  / CAST(sum(CASE WHEN exact_jac >= t.tau THEN 1 ELSE 0 END)
                    AS DOUBLE)
                ELSE 0.0 END, 6) AS est_recall
       FROM pairs CROSS JOIN tiers t
       GROUP BY t.tau ORDER BY t.tau"""

  private def o143: String =
    s"""WITH b AS MATERIALIZED ($oBands),
       cand AS MATERIALIZED (
         SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM b x JOIN b y
           ON x.band_pos = y.band_pos AND x.bkey = y.bkey
          AND x.doc_id < y.doc_id),
       sig AS MATERIALIZED ($oSig),
       est AS MATERIALIZED (
         SELECT doc_a, doc_b,
                (${(0 until NumHashes)
                  .map(j => s"CASE WHEN a.mh$j = b.mh$j THEN 1 ELSE 0 END")
                  .mkString(" + ")}) / ${NumHashes}.0 AS est_jac
         FROM cand
         JOIN sig a ON a.doc_id = doc_a
         JOIN sig b ON b.doc_id = doc_b),
       sh AS MATERIALIZED (
         SELECT DISTINCT doc_id,
                unnest(list_transform(range(1, length(text) - ${ShingleLen - 2}),
                  i -> substr(text, i, $ShingleLen))) AS sh
         FROM documents),
       sz AS MATERIALIZED (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       exact AS MATERIALIZED (
         SELECT doc_a, doc_b, ni / (za.sz + zb.sz - ni) AS exact_jac
         FROM (SELECT doc_a, doc_b, count(*) AS ni
               FROM cand
               JOIN sh sa ON sa.doc_id = doc_a
               JOIN sh sb ON sb.doc_id = doc_b AND sb.sh = sa.sh
               GROUP BY 1, 2) i
         JOIN sz za ON za.doc_id = doc_a
         JOIN sz zb ON zb.doc_id = doc_b)
       SELECT est.doc_a, est.doc_b, round(est_jac, 6) AS est_jac,
              round(coalesce(exact_jac, 0), 6) AS exact_jac,
              round(abs(est_jac - coalesce(exact_jac, 0)), 6) AS abs_err
       FROM est LEFT JOIN exact
         ON est.doc_a = exact.doc_a AND est.doc_b = exact.doc_b
       ORDER BY est.doc_a, est.doc_b"""

  /** q231: containment / asymmetric-overlap classification — the signal
    * symmetric Jaccard structurally misses: a short document fully
    * contained in a long one (quote expansion, article + appended
    * boilerplate, excerpt re-posts) can have Jaccard ≪ 0.5 while
    * containment `|A∩B| / |A|` is ~1.0 — Lee et al.'s exact-substring
    * motivation at the shingle-set grain. Over the SAME LSH candidate
    * pairs as q143/q207: Jaccard, both containment directions, and a
    * relation verdict (`near_dup` / `a_in_b` / `b_in_a` / `partial`).
    * Classification thresholds compare UNROUNDED integer-ratio doubles —
    * bit-identical cross-engine; display values rounded. Work stays
    * candidate-bounded (the q38 stance): intersections only for pairs the
    * band gate admitted.
    */
  private def q231(s: SparkSession, d: String): DataFrame = {
    val (pairs, sig, sh) = candJaccard(s, d)
    val rel = when(col("exact_jac") >= 0.5, "near_dup")
      .when(col("cont_a") >= 0.8, "a_in_b")
      .when(col("cont_b") >= 0.8, "b_in_a")
      .otherwise("partial")
    val out = pairs.select(col("doc_a"), col("doc_b"),
        round(col("exact_jac"), 6).as("jaccard"),
        round(col("cont_a"), 6).as("cont_a"),
        round(col("cont_b"), 6).as("cont_b"),
        rel.as("relation"))
      .orderBy(col("doc_a"), col("doc_b"))
    Cached.scopedTo(out, sig, sh)
  }

  private def o231: String =
    s"""WITH b AS MATERIALIZED ($oBands),
       cand AS MATERIALIZED (
         SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM b x JOIN b y
           ON x.band_pos = y.band_pos AND x.bkey = y.bkey
          AND x.doc_id < y.doc_id),
       sh AS MATERIALIZED (
         SELECT DISTINCT doc_id,
                unnest(list_transform(range(1, length(text) - ${ShingleLen - 2}),
                  i -> substr(text, i, $ShingleLen))) AS sh
         FROM documents),
       sz AS MATERIALIZED (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       exact AS MATERIALIZED (
         SELECT doc_a, doc_b, ni / (za.sz + zb.sz - ni) AS exact_jac,
                ni / za.sz AS cont_a, ni / zb.sz AS cont_b
         FROM (SELECT doc_a, doc_b, count(*) AS ni
               FROM cand
               JOIN sh sa ON sa.doc_id = doc_a
               JOIN sh sb ON sb.doc_id = doc_b AND sb.sh = sa.sh
               GROUP BY 1, 2) i
         JOIN sz za ON za.doc_id = doc_a
         JOIN sz zb ON zb.doc_id = doc_b)
       SELECT c.doc_a, c.doc_b,
              round(coalesce(exact_jac, 0), 6) AS jaccard,
              round(coalesce(cont_a, 0), 6) AS cont_a,
              round(coalesce(cont_b, 0), 6) AS cont_b,
              CASE WHEN coalesce(exact_jac, 0) >= 0.5 THEN 'near_dup'
                   WHEN coalesce(cont_a, 0) >= 0.8 THEN 'a_in_b'
                   WHEN coalesce(cont_b, 0) >= 0.8 THEN 'b_in_a'
                   ELSE 'partial' END AS relation
       FROM cand c LEFT JOIN exact
         ON c.doc_a = exact.doc_a AND c.doc_b = exact.doc_b
       ORDER BY c.doc_a, c.doc_b"""

  /** q236: mergeable source-grain MinHash similarity — the sketch-ALGEBRA
    * property the MinHash tier has used implicitly, demonstrated and
    * audited: the slot-wise MIN of per-doc signatures IS the signature of
    * the docs' shingle-set UNION (min over docs of per-doc minima = min
    * over the union), so whole-SOURCE similarity costs one rollup of the
    * already-computed doc signatures — no source-grain rescan, no pair
    * explosion. Estimated source-vocabulary Jaccard = agreeing slots / k
    * (resolution 1/$NumHashes — coarse by design; the audit column prices
    * it against the exact source-grain shingle Jaccard, which is the scan
    * this sketch exists to avoid at 100 TB). The same mergeability is what
    * lets signatures aggregate map-side per partition and roll up across
    * shards/days without touching documents again.
    *
    * Source pairs form via a zero-key broadcast hash join + `<` filter
    * (never a nested-loop inequality join); the source frame is
    * O(#sources).
    */
  private def q236(s: SparkSession, d: String): DataFrame = {
    val src = documents(s, d).select(col("doc_id"), col("source"))
    val ssig = signatures(s, d).filter(col("mh0").isNotNull)
      .join(src, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(min(col("mh0")).as("mh0"),
        (1 until NumHashes).map(j => min(col(s"mh$j")).as(s"mh$j")): _*)
      .withColumn("jk", pmod(length(col("mh0")), lit(1)).cast("int"))
      // tiny frame, but persisting it keeps the CPU-heavy doc-signature
      // subtree from evaluating once per self-join side
      .persist()
    val agree = (0 until NumHashes)
      .map(j => when(col(s"a.mh$j") === col(s"b.mh$j"), 1).otherwise(0))
      .reduce(_ + _)
    val est = ssig.as("a").join(broadcast(ssig.as("b")), Seq("jk"))
      .filter(col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        agree.as("n_agree"))
    val sh = parallelize(s, documents(s, d))
      .select(col("source"),
        explode(graft.functions.DistinctShinglesExpression
          .distinctShingles(col("text"))).as("sh"))
      .distinct().persist()
    val sz = sh.groupBy(col("source")).agg(count(lit(1)).as("sz"))
    val inter = sh.as("x")
      .join(sh.as("y"),
        col("x.sh") === col("y.sh") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
      .agg(count(lit(1)).as("ni"))
    val out = est
      .join(inter, Seq("source_a", "source_b"), "left")
      .join(broadcast(sz.select(col("source").as("source_a"),
        col("sz").as("za"))), Seq("source_a"))
      .join(broadcast(sz.select(col("source").as("source_b"),
        col("sz").as("zb"))), Seq("source_b"))
      .withColumn("exact_jac",
        coalesce(col("ni"), lit(0L)) /
          (col("za") + col("zb") - coalesce(col("ni"), lit(0L))))
      .select(col("source_a"), col("source_b"), col("n_agree"),
        round(col("n_agree") / lit(NumHashes.toDouble), 6).as("est_jac"),
        round(col("exact_jac"), 6).as("exact_jac"),
        round(abs(col("n_agree") / lit(NumHashes.toDouble)
          - col("exact_jac")), 6).as("abs_err"))
      .orderBy(col("source_a"), col("source_b"))
    Cached.scopedTo(out, sh, ssig)
  }

  private def o236: String = {
    val mins = (0 until NumHashes).map(j => s"min(mh$j) AS mh$j")
      .mkString(", ")
    val agree = (0 until NumHashes)
      .map(j => s"CASE WHEN a.mh$j = b.mh$j THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH sig AS ($oSig),
       ssig AS (
         SELECT d.source, $mins
         FROM sig JOIN documents d USING (doc_id)
         WHERE mh0 IS NOT NULL GROUP BY d.source),
       est AS (
         SELECT a.source AS source_a, b.source AS source_b,
                ($agree) AS n_agree
         FROM ssig a JOIN ssig b ON a.source < b.source),
       sh AS MATERIALIZED (
         SELECT DISTINCT source, sh
         FROM (SELECT source,
                 unnest(list_transform(range(1, length(text) - ${ShingleLen - 2}),
                   i -> substr(text, i, $ShingleLen))) AS sh
               FROM documents)),
       sz AS MATERIALIZED (
         SELECT source, count(*) AS sz FROM sh GROUP BY source),
       inter AS (
         SELECT x.source AS source_a, y.source AS source_b, count(*) AS ni
         FROM sh x JOIN sh y ON x.sh = y.sh AND x.source < y.source
         GROUP BY 1, 2)
       SELECT e.source_a, e.source_b, e.n_agree,
              round(e.n_agree / ${NumHashes}.0, 6) AS est_jac,
              round(coalesce(ni, 0) / (za.sz + zb.sz - coalesce(ni, 0)), 6)
                AS exact_jac,
              round(abs(e.n_agree / ${NumHashes}.0
                - coalesce(ni, 0) / (za.sz + zb.sz - coalesce(ni, 0))), 6)
                AS abs_err
       FROM est e
       LEFT JOIN inter i ON i.source_a = e.source_a
         AND i.source_b = e.source_b
       JOIN sz za ON za.source = e.source_a
       JOIN sz zb ON zb.source = e.source_b
       ORDER BY e.source_a, e.source_b"""
  }

  /** q156: cross-source duplication matrix — q38's verified near-dup pairs
    * rolled up by the SOURCES the two docs came from (pair normalized so the
    * matrix is upper-triangular): the data-governance report that tells a
    * curator which feeds copy which (mirror sites, scraped re-posts) and
    * therefore which source to drop wholesale instead of deduping doc by
    * doc. Cost = q38 + two dimension joins on doc_id + a tiny rollup.
    *
    * The per-group average is computed ORDER-INDEPENDENTLY AND WITHOUT
    * FLOAT ROUNDING: each pair's (round-6, hence bit-identical) jaccard
    * is scaled to integer micro-units, the group sums exact longs, the
    * mean is rounded half-up IN INTEGER ARITHMETIC ((2s+n) div 2n), and
    * only then divided by 1e6 — one exact small-int/1e6 division both
    * engines compute identically. A plain avg(double)+round(6) failed
    * the round-10 sf0.1 sweep twice: first on addend-order ulp drift,
    * then (order-independent sum, float round) on an exact .5e-6
    * quotient where the engines' round() disagree — the integer form has
    * neither failure mode.
    */
  private def q156(s: SparkSession, d: String): DataFrame = {
    val src = documents(s, d).select(col("doc_id"), col("source"))
    q38(s, d)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        Seq("doc_b"))
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(round(col("jaccard") * 1000000, 0).cast("long")).as("sj"))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        (expr("(2 * sj + n_pairs) DIV (2 * n_pairs)") / lit(1000000.0))
          .as("avg_jaccard"))
      .orderBy(col("n_pairs").desc, col("source_a"), col("source_b"))
  }

  private def o156: String =
    s"""WITH pairs AS ($o38Body)
       SELECT least(da.source, db.source) AS source_a,
              greatest(da.source, db.source) AS source_b,
              count(*) AS n_pairs,
              ((2 * sum(CAST(round(jaccard * 1000000) AS BIGINT))
                 + count(*)) // (2 * count(*))) / 1000000.0 AS avg_jaccard
       FROM pairs
       JOIN documents da ON da.doc_id = doc_a
       JOIN documents db ON db.doc_id = doc_b
       GROUP BY 1, 2
       ORDER BY n_pairs DESC, source_a, source_b"""

  /** q157: the dedup VERDICT ledger — the artifact the whole dedup tier
    * exists to produce: per document, its near-dup cluster (own id if
    * unique), whether it survives, and why. Canonical-per-cluster is the
    * longest document (doc_id ascending as the tie-break), encoded as a
    * tie-free composite argmax exactly like q82's canonical selection.
    * Composition: cluster labels (q97's propagation) LEFT-joined onto the
    * corpus, canonical picks broadcast back — the unbounded corpus is
    * touched by one scan and two joins on doc_id/cluster keys.
    */
  private def q157(s: SparkSession, d: String): DataFrame = {
    val labels = clusterLabels(s, d).localCheckpoint(true)
    val docs = documents(s, d).select(col("doc_id"), col("n_chars"))
    val akey = Keys.key(Keys.asc("n_chars", 12), Keys.desc("doc", 13))
    val canon = labels
      .join(docs, labels("doc") === docs("doc_id"))
      .groupBy(col("lab"))
      .agg(expr(s"max_by(doc, $akey)").as("canon_doc"))
    docs
      .join(labels, col("doc_id") === col("doc"), "left")
      // no broadcast hint: cluster count grows with the corpus, so the
      // canon side must stay free to shuffle-join; AQE broadcasts it
      // whenever it is actually small (as here)
      .join(canon, Seq("lab"), "left")
      .select(col("doc_id"),
        coalesce(col("lab"), col("doc_id")).as("cluster"),
        (col("lab").isNull || col("doc_id") === col("canon_doc")).as("keep"),
        when(col("lab").isNull, "unique")
          .when(col("doc_id") === col("canon_doc"), "canonical")
          .otherwise("dup").as("reason"))
      .orderBy(col("doc_id"))
  }

  private def o157: String =
    s"""WITH RECURSIVE
       pairs AS MATERIALIZED ($o38Body),
       edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
                 UNION ALL
                 SELECT doc_b, doc_a FROM pairs),
       nodes AS (SELECT DISTINCT src AS doc FROM edges),
       reach(doc, lab) AS (
         SELECT doc, doc FROM nodes
         UNION
         SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.doc),
       cc AS MATERIALIZED (SELECT doc, min(lab) AS lab FROM reach GROUP BY doc),
       canon AS MATERIALIZED (
         SELECT cc.lab,
                arg_max(cc.doc, ${Keys.oKey(Keys.oAsc("d.n_chars", 12),
                  Keys.oDesc("cc.doc", 13))})
                  AS canon_doc
         FROM cc JOIN documents d ON d.doc_id = cc.doc
         GROUP BY cc.lab)
       SELECT d.doc_id,
              coalesce(cc.lab, d.doc_id) AS cluster,
              (cc.lab IS NULL OR d.doc_id = canon.canon_doc) AS keep,
              CASE WHEN cc.lab IS NULL THEN 'unique'
                   WHEN d.doc_id = canon.canon_doc THEN 'canonical'
                   ELSE 'dup' END AS reason
       FROM documents d
       LEFT JOIN cc ON cc.doc = d.doc_id
       LEFT JOIN canon ON canon.lab = cc.lab
       ORDER BY d.doc_id"""

  /** q165: leakage-safe train/val/test split — q75's deterministic
    * content-hash split, but bucketed by near-dup CLUSTER instead of by
    * document: a near-duplicate pair straddling train and test is
    * evaluation leakage, and splitting on the cluster id makes it
    * impossible by construction. The output's `n_split_spanning_clusters`
    * column PROVES the invariant (always 0) rather than asserting it in
    * prose — the oracle recomputes it from the recursive-CTE closure.
    * Composition: cluster labels LEFT-joined onto the corpus (docs outside
    * any cluster are their own singleton), md5-bucketed at cluster grain.
    */
  private def q165(s: SparkSession, d: String): DataFrame = {
    val labels = clusterLabels(s, d).localCheckpoint(true)
    val assigned = documents(s, d).select(col("doc_id"))
      .join(labels, col("doc_id") === col("doc"), "left")
      .select(col("doc_id"), coalesce(col("lab"), col("doc_id")).as("cluster"))
      // one md5 per row: both split thresholds read the same hashed bucket
      // column instead of re-hashing per WHEN branch (round-5 VERDICT #5)
      .withColumn("bucket",
        conv(substring(md5(col("cluster").cast("string")), 1, 4), 16, 10)
          .cast("long") % 10)
      .withColumn("split",
        when(col("bucket") < 8, "train")
          .when(col("bucket") < 9, "val")
          .otherwise("test"))
    val spanning = assigned.groupBy(col("cluster"))
      .agg(countDistinct(col("split")).as("n_splits"))
      .agg(sum(when(col("n_splits") > 1, 1L).otherwise(0L)).cast("long")
        .as("n_span"))
      .withColumn("jk", pmod(col("n_span"), lit(1)))
    assigned
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster")).as("n_clusters"))
      .withColumn("jk", pmod(col("n_docs"), lit(1)) * lit(0))
      .join(broadcast(spanning), Seq("jk"))
      .select(col("split"), col("n_docs"), col("n_clusters"),
        col("n_span").as("n_split_spanning_clusters"))
      .orderBy(col("split"))
  }

  private def o165: String =
    s"""WITH RECURSIVE
       pairs AS MATERIALIZED ($o38Body),
       edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
                 UNION ALL
                 SELECT doc_b, doc_a FROM pairs),
       nodes AS (SELECT DISTINCT src AS doc FROM edges),
       reach(doc, lab) AS (
         SELECT doc, doc FROM nodes
         UNION
         SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.doc),
       cc AS MATERIALIZED (SELECT doc, min(lab) AS lab FROM reach GROUP BY doc),
       assigned AS MATERIALIZED (
         SELECT d.doc_id, coalesce(cc.lab, d.doc_id) AS cluster,
                CASE WHEN ('0x' || substr(md5(CAST(coalesce(cc.lab, d.doc_id)
                       AS VARCHAR)), 1, 4))::BIGINT % 10 < 8 THEN 'train'
                     WHEN ('0x' || substr(md5(CAST(coalesce(cc.lab, d.doc_id)
                       AS VARCHAR)), 1, 4))::BIGINT % 10 < 9 THEN 'val'
                     ELSE 'test' END AS split
         FROM documents d LEFT JOIN cc ON cc.doc = d.doc_id),
       spanning AS (
         SELECT CAST(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_span
         FROM (SELECT cluster, count(DISTINCT split) AS n_splits
               FROM assigned GROUP BY cluster))
       SELECT split, count(*) AS n_docs,
              count(DISTINCT cluster) AS n_clusters,
              n_span AS n_split_spanning_clusters
       FROM assigned, spanning
       GROUP BY split, n_span ORDER BY split"""

  // ---- q181: edit-distance similarity join (ED-Join) ----

  private val EdK = 2 // edit-distance threshold
  private val EdQ = 2 // q-gram width

  /** q181: edit-distance similarity join over the part-name vocabulary —
    * the fuzzy-string dedup modality the catalog's other joins don't
    * cover (q120 is token-set Jaccard, q38 shingle-set Jaccard, q102
    * hamming): pairs of DISTINCT names within Levenshtein distance
    * $EdK, each with its instance count, i.e. the fuzzy-key
    * consolidation step of entity resolution.
    *
    * Scale design (ED-Join, Xiao et al., VLDB'08, simplified): the ONLY
    * corpus-scale stage is the vocabulary extraction (one hash
    * aggregation; at 100 TB "names" are URLs/titles and the vocabulary is
    * millions, not the corpus). The quadratic stage is then pruned
    * LOSSLESSLY: each name contributes only its q*k+1 globally-rarest
    * q-grams (prefix filter: <= k edits destroy <= q*k grams, so two
    * names within distance k MUST share a gram among those prefixes);
    * candidates come from an equi-join on those prefix grams plus the
    * length filter |len(a)-len(b)| <= k, and only candidates pay the
    * O(len^2) verify. Names too short to own q*k+1 grams (where the
    * prefix lemma is vacuous) are handled by an exact all-pairs branch
    * over that bounded sub-vocabulary (strings shorter than q*(k+1)
    * chars — a set bounded by the alphabet, empty on this corpus).
    * The pruning is NOT mirrored in the oracle: DuckDB verifies the full
    * quadratic all-pairs, which is exactly what makes the oracle a
    * false-negative check on the filter.
    */
  private def q181(s: SparkSession, d: String): DataFrame = {
    val (names, verified) = edNamePairs(s, d)
    val out = verified
      .join(names.select(col("name").as("name_a"), col("n_rows").as("n_a")),
        Seq("name_a"))
      .join(names.select(col("name").as("name_b"), col("n_rows").as("n_b")),
        Seq("name_b"))
      .select(col("name_a"), col("name_b"), col("dist"),
        col("n_a"), col("n_b"))
      .orderBy(col("name_a"), col("name_b"))
    Cached.scopedTo(out, names)
  }

  /** The q181 pipeline through verification: returns the PERSISTED
    * vocabulary-with-support frame (caller owns its release via
    * [[Cached.scopedTo]]) and the verified pair frame
    * `(name_a, name_b, dist)`. Shared by q181 (pair readout) and q218
    * (golden-record consolidation).
    */
  private def edNamePairs(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    // vocabulary with support counts: the corpus-scale stage, persisted —
    // feeds gram extraction and both count join-backs
    val names = parallelize(s, part(s, d))
      .groupBy(col("p_name").as("name")).agg(count(lit(1)).as("n_rows"))
      .persist()
    val minLong = EdQ * (EdK + 1) // shortest length owning q*k+1 grams
    val longs = names.filter(length(col("name")) >= minLong)
    val shorts = names.filter(length(col("name")) < minLong)
    // q-grams with multiplicity and position (position only as the
    // deterministic final sort key of the prefix selection)
    val grams = longs.select(col("name"),
      posexplode(expr(
        s"""transform(sequence(1, length(name) - ${EdQ - 1}),
            i -> substring(name, i, $EdQ))""")).as(Seq("pos", "g")))
    val freq = grams.groupBy(col("g")).agg(count(lit(1)).as("f"))
    // rare-first prefix: the q*k+1 grams least likely to collide, so
    // candidate fanout concentrates where buckets are small (the same
    // rare-token stance as q120's PPJoin prefix)
    val prefixes = grams.join(broadcast(freq), Seq("g"))
      .groupBy(col("name"))
      .agg(slice(array_sort(collect_list(
        struct(col("f"), col("g"), col("pos")))), 1, EdQ * EdK + 1)
        .as("pre"))
      .select(col("name"), explode(col("pre")).as("p"))
      .select(col("name"), col("p.g").as("g"))
    val longCands = prefixes.as("a").join(prefixes.as("b"),
        col("a.g") === col("b.g") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
      .distinct()
    // short names: the prefix lemma is vacuous below q*k+1 grams; their
    // sub-vocabulary is alphabet-bounded, so exact length-block pairing is
    // the honest fallback — each short name probes the length buckets its
    // matches could live in (an INT equi-join, broadcast hash, never a
    // cartesian; `greatest` guards Spark 4's descending `sequence` when
    // len-k < 1)
    val probe = shorts.select(col("name").as("name_b"),
      explode(sequence(greatest(length(col("name")) - EdK, lit(1)),
        length(col("name")) + EdK)).as("lk"))
    val shortCands = names
      .select(col("name").as("name_a"), length(col("name_a")).as("lk"))
      .join(broadcast(probe), Seq("lk"))
      .filter(col("name_a") =!= col("name_b"))
      .select(least(col("name_a"), col("name_b")).as("na"),
        greatest(col("name_a"), col("name_b")).as("nb"))
      .select(col("na").as("name_a"), col("nb").as("name_b"))
    // thresholded levenshtein: Spark's 3-arg form runs the banded O(k·len)
    // DP and returns -1 beyond the threshold — the verification step pays
    // for the band, not the full O(len²) matrix (matters at URL/title
    // lengths; DuckDB's oracle verify stays unbanded, values identical)
    val verified = longCands.union(shortCands).distinct()
      .filter(abs(length(col("name_a")) - length(col("name_b"))) <= EdK)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), EdK))
      .filter(col("dist") >= 0)
    (names, verified)
  }

  /** q218: entity-resolution golden record — the consolidation step the
    * ED-Join exists to feed: fuzzy-matched name variants collapse into one
    * canonical ("golden") record per entity. Match graph = q218's own
    * rebuild of the q181 verified pairs (self-contained per the driver
    * contract); components via min-label propagation WITH a
    * pointer-doubling shortcut (each round takes one edge hop AND jumps
    * name→lab→lab-of-lab, so rounds are O(log diameter)). The diameter is
    * data-dependent — edit-distance matches compose transitively (a–b–c…
    * chains each within EdK), so it is NOT bounded by the edit threshold;
    * the iteration cap is a fail-loud guard, astronomically safe under
    * doubling (40 rounds covers 2^40-deep chains); survivorship = highest
    * support count, then
    * lexicographically smallest name, as a [[Keys]] composite `min_by` —
    * tie-free cross-engine. Output per multi-variant entity: canonical
    * name, variant count, total row support, and the sorted variant list
    * (serialized — driver hash-compare cannot take ARRAY columns).
    *
    * Scale shape: everything after the vocabulary aggregation is
    * vocabulary-bounded (names, pairs, labels); the propagation iterates
    * on localCheckpoint-truncated ~pair-sized frames; survivorship is one
    * aggregation, no window.
    */
  private def q218(s: SparkSession, d: String): DataFrame = {
    val (names, verified) = edNamePairs(s, d)
    val pairs = verified.select(col("name_a"), col("name_b"))
      .localCheckpoint(true)
    val edges = pairs.union(
      pairs.select(col("name_b").as("name_a"), col("name_a").as("name_b")))
    var labels = edges.select(col("name_a").as("name")).distinct()
      .withColumn("lab", col("name")).localCheckpoint(true)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < 40) {
      val prop = edges.join(labels, col("name_a") === col("name"))
        .select(col("name_b").as("name"), col("lab"), lit(false).as("own"))
      // pointer-doubling shortcut: lab values are themselves names in the
      // closed label universe, so lab→lab-of-lab composes two hops per
      // round — convergence in O(log diameter) rounds instead of O(diameter)
      val jump = labels.join(
          labels.select(col("name").as("lab"), col("lab").as("lab_j")),
          Seq("lab"))
        .select(col("name"), col("lab_j").as("lab"), lit(false).as("own"))
      // r15: convergence count fused into the checkpoint job (the q97
      // recipe — one job per round, r14 VERDICT "next round" #1)
      val nextRaw = labels.withColumn("own", lit(true)).union(prop).union(jump)
        .groupBy(col("name"))
        .agg(min(col("lab")).as("lab"),
          min(when(col("own"), col("lab"))).as("own_lab"))
        .withColumn("chg", col("lab") < col("own_lab"))
      val (next, nChanged) = org.apache.spark.sql.GraftShims
        .localCheckpointAndCount(nextRaw, Some("chg"))
      changed = nChanged
      labels = next.select(col("name"), col("lab"))
      iter += 1
    }
    require(changed == 0,
      s"name-cluster propagation did not converge in $iter iterations")
    val key = Keys.key(Keys.desc("n_rows", 8), "name")
    val out = labels.join(names, Seq("name"))
      .groupBy(col("lab"))
      .agg(expr(s"min_by(name, $key)").as("canonical"),
        count(lit(1)).as("n_variants"),
        sum(col("n_rows")).cast("long").as("total_rows"),
        array_join(array_sort(collect_list(col("name"))), " | ")
          .as("variants"))
      .select(col("canonical"), col("n_variants"), col("total_rows"),
        col("variants"))
      .orderBy(col("canonical"))
    Cached.scopedTo(out, names)
  }

  private def o218: String = {
    val key = Keys.oKey(Keys.oDesc("n_rows", 8), "name")
    s"""WITH RECURSIVE
       n AS (SELECT p_name AS name, count(*) AS n_rows FROM part
             GROUP BY p_name),
       pairs AS (
         SELECT a.name AS name_a, b.name AS name_b
         FROM n a JOIN n b ON a.name < b.name
         WHERE abs(length(a.name) - length(b.name)) <= $EdK
           AND levenshtein(a.name, b.name) <= $EdK),
       edges AS (SELECT name_a AS src, name_b AS dst FROM pairs
                 UNION ALL
                 SELECT name_b, name_a FROM pairs),
       nodes AS (SELECT DISTINCT src AS name FROM edges),
       reach(name, lab) AS (
         SELECT name, name FROM nodes
         UNION
         SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.name),
       cc AS (SELECT name, min(lab) AS lab FROM reach GROUP BY name),
       g AS (SELECT cc.lab, cc.name, n.n_rows FROM cc JOIN n USING (name))
       SELECT arg_min(name, $key) AS canonical,
              count(*) AS n_variants,
              CAST(sum(n_rows) AS BIGINT) AS total_rows,
              array_to_string(list(name ORDER BY name), ' | ') AS variants
       FROM g GROUP BY lab ORDER BY canonical"""
  }

  private def o181: String =
    s"""WITH n AS (SELECT p_name AS name, count(*) AS n_rows FROM part
                   GROUP BY p_name)
       SELECT a.name AS name_a, b.name AS name_b,
              CAST(levenshtein(a.name, b.name) AS INT) AS dist,
              CAST(a.n_rows AS BIGINT) AS n_a, CAST(b.n_rows AS BIGINT) AS n_b
       FROM n a JOIN n b ON a.name < b.name
       WHERE levenshtein(a.name, b.name) <= $EdK
         AND abs(length(a.name) - length(b.name)) <= $EdK
       ORDER BY name_a, name_b"""

  /** q281: Jaro–Winkler candidate re-ranking — the record-linkage scoring
    * pass layered on the ED-Join: every verified fuzzy name pair gets the
    * prefix-boosted Jaro–Winkler affinity (the Fellegi–Sunter-style
    * comparison vector's string field) computed by the native codegen'd
    * [[graft.functions.JaroWinklerExpression]] (Spark has `levenshtein`
    * built in but no Jaro–Winkler — this is the gap the expression
    * fills), plus each left name's partner ranking by that score: edit
    * distance finds the candidates, JW orders them.
    *
    * Oracle: DuckDB's BUILT-IN `jaro_winkler_similarity` over the same
    * quadratic all-pairs — so the kernel's exact semantics (greedy
    * windowed matching, integer half-transpositions, >0.7 boost gate,
    * prefix cap 4 — probed and pinned in the expression's scaladoc) are
    * hash-verified against an independent implementation, not a
    * re-derivation. Ranks compare equal because both engines rank the
    * ROUNDED score with a name tie-break.
    *
    * Scale shape: inherited from q181 — the only corpus-scale stage is
    * the vocabulary aggregation; candidates are lossless rare-prefix-gram
    * pairs; JW is O(len·window) per candidate inside whole-stage codegen;
    * the rank window partitions by name_a (vocabulary-cardinality, not a
    * bounded key) over the candidate frame.
    */
  private def q281(s: SparkSession, d: String): DataFrame = {
    val (names, verified) = edNamePairs(s, d)
    val scored = verified.select(col("name_a"), col("name_b"), col("dist"),
      round(graft.functions.JaroWinklerExpression.jaroWinkler(
        col("name_a"), col("name_b")), 6).as("jw"))
    val out = scored
      .withColumn("jw_rank", rank().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("name_a"))
          .orderBy(col("jw").desc, col("name_b").asc)).cast("int"))
      .orderBy(col("name_a"), col("name_b"))
    Cached.scopedTo(out, names)
  }

  private def o281: String =
    s"""WITH n AS (SELECT DISTINCT p_name AS name FROM part),
       pairs AS (
         SELECT a.name AS name_a, b.name AS name_b,
                CAST(levenshtein(a.name, b.name) AS INT) AS dist,
                round(jaro_winkler_similarity(a.name, b.name), 6) AS jw
         FROM n a JOIN n b ON a.name < b.name
         WHERE levenshtein(a.name, b.name) <= $EdK
           AND abs(length(a.name) - length(b.name)) <= $EdK)
       SELECT name_a, name_b, dist, jw,
              CAST(rank() OVER (PARTITION BY name_a
                                ORDER BY jw DESC, name_b) AS INT) AS jw_rank
       FROM pairs
       ORDER BY name_a, name_b"""

  /** q322: Damerau–Levenshtein transposition-aware re-scoring of the ED-Join
    * candidates — the typo-model refinement of q181's plain-Levenshtein
    * verification: adjacent-character swaps are the dominant human typo
    * class (Damerau '64), and plain Levenshtein charges them 2 edits. Each
    * verified pair gets the FULL (unrestricted, Lowrance–Wagner '75)
    * Damerau–Levenshtein distance from the native codegen'd
    * [[graft.functions.DamerauLevenshteinExpression]] (Spark has
    * `levenshtein` built in but no transposition-aware variant — the gap
    * the expression fills), the transposition gain `dist − dl` (>0 exactly
    * on the swap-explained pairs), and a DL-first partner rank.
    *
    * Oracle: DuckDB's BUILT-IN `damerau_levenshtein` over the same pairs —
    * like q281, the kernel's variant choice (full DL, probed
    * DL("CA","ABC")=2, NOT the restricted OSA's 3) is hash-verified against
    * an independent implementation rather than a re-derivation.
    *
    * Scale shape: inherited unchanged from q181/q281 — vocabulary
    * aggregation is the only corpus-scale stage, candidates are lossless
    * rare-prefix-gram pairs, DL is O(len²) per candidate inside
    * whole-stage codegen, and the rank window partitions by name_a
    * (vocabulary-cardinality, not bounded) over the candidate frame.
    */
  private def q322(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (names, verified) = edNamePairs(s, d)
    val scored = verified.select(col("name_a"), col("name_b"), col("dist"),
      graft.functions.DamerauLevenshteinExpression
        .damerauLevenshtein(col("name_a"), col("name_b")).as("dl"))
    val out = scored
      .withColumn("transposition_gain", (col("dist") - col("dl")).cast("int"))
      .withColumn("dl_rank", rank().over(
        Window.partitionBy(col("name_a"))
          .orderBy(col("dl").asc, col("name_b").asc)).cast("int"))
      .orderBy(col("name_a"), col("name_b"))
    Cached.scopedTo(out, names)
  }

  private def o322: String =
    s"""WITH n AS (SELECT DISTINCT p_name AS name FROM part),
       pairs AS (
         SELECT a.name AS name_a, b.name AS name_b,
                CAST(levenshtein(a.name, b.name) AS INT) AS dist,
                CAST(damerau_levenshtein(a.name, b.name) AS INT) AS dl
         FROM n a JOIN n b ON a.name < b.name
         WHERE levenshtein(a.name, b.name) <= $EdK
           AND abs(length(a.name) - length(b.name)) <= $EdK)
       SELECT name_a, name_b, dist, dl,
              CAST(dist - dl AS INT) AS transposition_gain,
              CAST(rank() OVER (PARTITION BY name_a
                                ORDER BY dl, name_b) AS INT) AS dl_rank
       FROM pairs
       ORDER BY name_a, name_b"""

  /** q275: segment-dedup survivor shift — q274's acceptance audit applied to
    * the SEGMENT-grain pass (q141's CCNet paragraph dedup), where removal is
    * far heavier than whole-document dedup and the demographic question is
    * sharper: template-heavy slices lose most of their segments, so the
    * post-pass corpus mix drifts. Per (lang, source): segment counts before
    * and after the global first-occurrence keep, removal rate, and the
    * corpus-share shift.
    *
    * Scale: q141's two linear stages (hash-agg firsts on the uniform `seg`
    * key, co-partitioned join back), one doc-grain dim join, one bounded
    * (lang, source) aggregation; share windows run over that aggregated
    * frame. Cross-engine: counts exact; ratios divide exact longs once and
    * round at 6 (the q274 stance).
    */
  private def q275(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val segs = segmentStream(s, d)
    val firsts = segs.groupBy(col("seg")).agg(min(col("okey")).as("keep_key"))
    val perDoc = segs.join(firsts, Seq("seg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("okey") === col("keep_key"), 1L).otherwise(0L))
          .cast("long").as("n_kept"))
    val dims = documents(s, d).select(col("doc_id"), col("lang"), col("source"))
    val per = perDoc.join(dims, Seq("doc_id"))
      .groupBy(col("lang"), col("source"))
      .agg(sum(col("n_segs")).cast("long").as("segs"),
        sum(col("n_kept")).cast("long").as("kept"))
    val w = Window.partitionBy()
    per
      .withColumn("removed", col("segs") - col("kept"))
      .withColumn("removal_rate", round(col("removed") / col("segs"), 6))
      .withColumn("share_before",
        round(col("segs") / sum(col("segs")).over(w), 6))
      .withColumn("share_after",
        round(col("kept") / sum(col("kept")).over(w), 6))
      .withColumn("share_shift",
        round(col("share_after") - col("share_before"), 6))
      .orderBy(col("lang"), col("source"))
  }

  private val o275 = s"""
    WITH docs AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
      FROM documents),
    segs AS (
      SELECT doc_id, CAST(i AS INT) AS seg_idx,
             array_to_string(
               list_slice(ws, i * $SegWords + 1, i * $SegWords + $SegWords),
               ' ') AS seg
      FROM (SELECT doc_id, ws,
                   unnest(range(0, CAST(ceil(len(ws) / $SegWords.0) AS BIGINT)))
                     AS i
            FROM docs)),
    marked AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx)
               AS rn
      FROM segs),
    perdoc AS (
      SELECT doc_id, count(*) AS n_segs,
             CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM marked GROUP BY doc_id),
    per AS (
      SELECT d.lang, d.source, CAST(sum(p.n_segs) AS BIGINT) AS segs,
             CAST(sum(p.n_kept) AS BIGINT) AS kept
      FROM perdoc p JOIN documents d USING (doc_id)
      GROUP BY d.lang, d.source),
    shares AS (
      SELECT lang, source, segs, kept, segs - kept AS removed,
             round((segs - kept) / segs, 6) AS removal_rate,
             round(segs / CAST(sum(segs) OVER () AS BIGINT), 6)
               AS share_before,
             round(kept / CAST(sum(kept) OVER () AS BIGINT), 6)
               AS share_after
      FROM per)
    SELECT lang, source, segs, kept, removed, removal_rate,
           share_before, share_after,
           round(share_after - share_before, 6) AS share_shift
    FROM shares ORDER BY lang, source"""

  /** q276: corpus-pipeline attrition funnel — the end-to-end acceptance
    * readout a training-data pipeline publishes with every corpus release:
    * per language, how many documents and tokens survive each curation
    * stage, cumulatively. Stages compose three mechanisms this catalog has
    * already proven in isolation: (1) a Gopher-style minimum-length screen,
    * (2) q83's broadcast n-gram decontamination against the held-out set
    * (doc_id < 5), (3) q141's CCNet segment-grain dedup REWRITE, whose
    * surviving-segment token mass is the stage-3 token count. Output is the
    * long-format funnel (stage, lang, docs, toks, fractions vs stage 0) —
    * the table that answers "where did my corpus go, and did any language
    * pay disproportionately".
    *
    * Scale: every stage is corpus-linear — one map per row, one broadcast
    * probe of the tiny benchmark gram set, one hash-agg + co-partitioned
    * join on the uniform segment key; per-stage rollups are bounded
    * (stage × lang) frames and the stage-0 denominators broadcast back.
    * Nothing pairwise, no windows. Cross-engine: counts exact; the two
    * fractions divide exact longs once and round at 6.
    */
  private def q276(s: SparkSession, d: String): DataFrame = {
    val base = parallelize(s, documents(s, d))
      .filter(col("doc_id") >= 5)
      .withColumn("ws", split(trim(col("text")), "\\s+"))
      .select(col("doc_id"), col("lang"), col("ws"),
        size(col("ws")).cast("long").as("n_tok"))
    // stage 1: minimum-length screen (the cheapest Gopher gate)
    val s1 = base.filter(col("n_tok") >= 20).persist()
    // stage 2: decontamination — drop any survivor sharing a word-3-gram
    // with the held-out benchmark docs (q83's broadcast-probe shape)
    val bench = documents(s, d).filter(col("doc_id") < 5)
      .withColumn("ws", split(trim(col("text")), "\\s+"))
      .filter(size(col("ws")) >= 3)
      .select(explode(expr(word3GramArraySql)).as("gram")).distinct()
    val hits = s1
      .select(col("doc_id"), explode(expr(word3GramArraySql)).as("gram"))
      .join(broadcast(bench), Seq("gram"))
      .select(col("doc_id")).distinct()
    val s2 = s1.join(hits, Seq("doc_id"), "left_anti").persist()
    // stage 3: segment-grain dedup rewrite over the survivors — token mass
    // of globally-first-occurrence segments (q141/q173's keep rule)
    val segs = s2.select(col("doc_id"), col("lang"),
      posexplode(expr(
        s"""transform(sequence(0, CAST(ceil(size(ws) / $SegWords.0) AS INT) - 1),
            i -> concat_ws(' ', slice(ws, i * $SegWords + 1, $SegWords)))"""))
        .as(Seq("seg_idx", "seg")))
      .withColumn("okey", struct(col("doc_id"), col("seg_idx")))
    val firsts = segs.groupBy(col("seg")).agg(min(col("okey")).as("keep_key"))
    val s3 = segs.join(firsts, Seq("seg"))
      .filter(col("okey") === col("keep_key"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(size(split(col("seg"), " "))).cast("long").as("n_tok"))
    def perLang(stage: Int, df: DataFrame): DataFrame =
      df.groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(col("n_tok")).cast("long").as("toks"))
        .withColumn("stage", lit(stage))
    val per = perLang(0, base)
      .unionByName(perLang(1, s1))
      .unionByName(perLang(2, s2))
      .unionByName(perLang(3, s3))
    val b0 = perLang(0, base)
      .select(col("lang"), col("docs").as("docs0"), col("toks").as("toks0"))
    val out = per.join(broadcast(b0), Seq("lang"))
      .select(col("stage"), col("lang"), col("docs"), col("toks"),
        round(col("docs") / col("docs0"), 6).as("doc_frac"),
        round(col("toks") / col("toks0"), 6).as("tok_frac"))
      .orderBy(col("stage"), col("lang"))
    Cached.scopedTo(out, s1, s2)
  }

  private val o276 = s"""
    WITH base AS (
      SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS ws,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS n_tok
      FROM documents WHERE doc_id >= 5),
    bench AS (
      SELECT DISTINCT unnest(list_transform(range(0, len(ws) - 2),
               i -> ws[i + 1] || ' ' || ws[i + 2] || ' ' || ws[i + 3]))
               AS gram
      FROM (SELECT string_split_regex(trim(text), '\\s+') AS ws
            FROM documents WHERE doc_id < 5)
      WHERE len(ws) >= 3),
    s1 AS (SELECT * FROM base WHERE n_tok >= 20),
    hits AS (
      SELECT DISTINCT doc_id
      FROM (SELECT doc_id, unnest(list_transform(range(0, len(ws) - 2),
              i -> ws[i + 1] || ' ' || ws[i + 2] || ' ' || ws[i + 3]))
              AS gram
            FROM s1) c
      JOIN bench b USING (gram)),
    s2 AS (SELECT * FROM s1
           WHERE doc_id NOT IN (SELECT doc_id FROM hits)),
    segs AS (
      SELECT doc_id, lang, CAST(i AS INT) AS seg_idx,
             array_to_string(
               list_slice(ws, i * $SegWords + 1, i * $SegWords + $SegWords),
               ' ') AS seg
      FROM (SELECT doc_id, lang, ws,
                   unnest(range(0, CAST(ceil(len(ws) / $SegWords.0) AS BIGINT)))
                     AS i
            FROM s2)),
    marked AS (
      SELECT doc_id, lang, seg,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx)
               AS rn
      FROM segs),
    s3 AS (
      SELECT doc_id, lang,
             CAST(sum(len(string_split(seg, ' '))) AS BIGINT) AS n_tok
      FROM marked WHERE rn = 1 GROUP BY doc_id, lang),
    per AS (
      SELECT 0 AS stage, lang, count(*) AS docs,
             CAST(sum(n_tok) AS BIGINT) AS toks FROM base GROUP BY lang
      UNION ALL SELECT 1, lang, count(*), CAST(sum(n_tok) AS BIGINT)
        FROM s1 GROUP BY lang
      UNION ALL SELECT 2, lang, count(*), CAST(sum(n_tok) AS BIGINT)
        FROM s2 GROUP BY lang
      UNION ALL SELECT 3, lang, count(*), CAST(sum(n_tok) AS BIGINT)
        FROM s3 GROUP BY lang),
    b0 AS (SELECT lang, docs AS docs0, toks AS toks0
           FROM per WHERE stage = 0)
    SELECT p.stage, p.lang, p.docs, p.toks,
           round(p.docs / b0.docs0, 6) AS doc_frac,
           round(p.toks / b0.toks0, 6) AS tok_frac
    FROM per p JOIN b0 USING (lang)
    ORDER BY p.stage, p.lang"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q181_editdist_join", q181, Some(o181)),
    QueryDef("q281_jaro_winkler_rank", q281, Some(o281)),
    QueryDef("q322_damerau_levenshtein_rank", q322, Some(o322)),
    QueryDef("q218_er_golden_record", q218, Some(o218)),
    QueryDef("q231_containment", q231, Some(o231)),
    QueryDef("q236_source_minhash_merge", q236, Some(o236)),
    QueryDef("q165_leakage_safe_split", q165, Some(o165)),
    QueryDef("q156_source_overlap", q156, Some(o156)),
    QueryDef("q157_dedup_ledger", q157, Some(o157)),
    QueryDef("q141_segment_dedup", q141, Some(o141)),
    QueryDef("q275_segment_dedup_shift", q275, Some(o275)),
    QueryDef("q276_pipeline_funnel", q276, Some(o276)),
    QueryDef("q173_segment_rewrite", q173, Some(o173)),
    QueryDef("q142_dup_spans", q142, Some(o142)),
    QueryDef("q171_minimizer_spans", q171, Some(o171)),
    QueryDef("q143_minhash_accuracy", q143, Some(o143)),
    QueryDef("q207_lsh_threshold_sweep", q207, Some(o207)),
    QueryDef("q132_dup_ngram_ratio", q132, Some(o132)),
    QueryDef("q120_prefix_filter_join", q120, Some(o120)),
    QueryDef("q104_incremental_dedup", q104, Some(o104)),
    QueryDef("q211_fuzzy_decontam", q211, Some(o211)),
    QueryDef("q102_simhash_hamming", q102, Some(o102)),
    QueryDef("q97_dedup_clusters", q97, Some(o97)),
    QueryDef("q36_minhash_signatures", q36, Some(o36)),
    QueryDef("q37_lsh_band_stats", q37, Some(o37)),
    QueryDef("q38_minhash_near_dup", q38, Some(o38)),
    QueryDef("q39_simhash_groups", q39, Some(o39)),
    QueryDef("q40_ngram_jaccard", q40, Some(o40)))
}
