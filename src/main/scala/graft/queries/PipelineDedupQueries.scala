package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.util.SessionMemo
import graft.pipeline.{Dedup, TextAnalysis}

/** Deduplication / decontamination / record-linkage query surface —
  * the dedup family split out of PipelineQueries (r7 verdict #8):
  * exact, fingerprint, n-gram Jaccard, MinHash-LSH (plain + signature-
  * verified), SimHash, winnowing, cluster resolution, passage dedup,
  * duplicate-span removal, set-similarity join, edit-distance /
  * Jaro-Winkler / Fellegi-Sunter linkage, and eval-set
  * decontamination (exact + Bloom). See each entry's scaladoc for the
  * scale shape; every entry has a DuckDB oracle in [[oracleSql]].
  */
object PipelineDedupQueries {

  // q159 Fellegi–Sunter parameters, shared by the query and its oracle
  // so both engines sum the SAME precomputed weight literals.
  private val fsMu = Seq((0.9, 0.02), (0.9, 0.04), (0.85, 0.025))
  private def log2(x: Double) = math.log(x) / math.log(2.0)
  private val fsWa = fsMu.map { case (m, u) => log2(m / u) }
  private val fsWd = fsMu.map { case (m, u) => log2((1 - m) / (1 - u)) }

  /** The q26 pair graph — `jaccardPairs(documents, n=3, τ=0.10)` — is
    * consumed by FOUR declared queries (q26 itself, q44's clusters,
    * q53's keeper selection, q196's leakage-safe splits), each paying
    * the full posting-list join (~5 s wall apiece at sf0.1). One
    * enumeration per (session, dir) serves all — the lineitemTriangles
    * / BruteTruth.topK within-session-sharing pattern (r15 verdict:
    * shared computation, not cross-run caching). The persisted frame
    * is tens of PAIR rows, nothing like the reverted narrow-string
    * subtree persists. The first consumer pays the build inside its
    * own timed window. */
  private[queries] def docJaccardPairs(s: SparkSession, d: String): DataFrame =
    SessionMemo.frame(s, "docJaccardPairs", d)(
      // spread: the shingle explode reads the ONE-split documents scan
      // serial otherwise (the q214/q178 treatment); the pair set is
      // deterministic algebra, partitioning-invariant
      Dedup.jaccardPairs(Tables.spread(s, d, "documents", "doc_id"),
        n = 3, threshold = 0.10))

  /** Same sharing for the winnow pair graph (q46 emits it, q47
    * clusters it). */
  private def docWinnowPairs(s: SparkSession, d: String): DataFrame =
    SessionMemo.frame(s, "docWinnowPairs", d)(
      TextAnalysis.winnowPairs(Tables.documents(s, d), k = 4, w = 4,
        minShared = 2))

  def queries: Map[String, (SparkSession, String) => DataFrame] = r8Queries ++ Map(
    "q24_dedup_exact" -> ((s, d) =>
      Dedup.exact(Tables.documents(s, d))),

    "q25_fingerprint" -> ((s, d) =>
      Dedup.fingerprint(Tables.documents(s, d))),

    "q26_jaccard_pairs" -> ((s, d) => docJaccardPairs(s, d)),

    // recall_vs_brute on the approximate queries (q27/q30/q41): the
    // approximation quality surfaces as DATA in the dumped frame, not
    // just a row count — computed against the exact twin (over a capped
    // query set for the top-k ops), identical on every row.
    "q27_minhash_lsh" -> ((s, d) => {
      // the k=64 signature map is per-doc md5-heavy over a one-split
      // scan — spread it (q214/q178 treatment; signatures are per-row
      // algebra, partitioning-invariant)
      val docs = Tables.spread(s, d, "documents", "doc_id")
      // md5-family hashes (signature mins + band buckets) so the whole
      // LSH candidate generation is DuckDB-replicable — q27 graduates
      // from rows-only to a full hash-checked oracle row
      val lsh = Dedup.minhashLsh(docs, n = 3, k = 64, bands = 16,
        threshold = 0.10, md5Based = true).cache()
      // recall measured on a capped universe (doc_id < 1000, like
      // q30/q41's query caps): the exact-jaccard twin is quadratic-ish
      // in docs, and the capped measure is the same estimator at a
      // tenth of the cost at sf0.1
      val capped = docs.filter(col("doc_id") < 1000)
      val brute = Dedup.jaccardPairs(capped, n = 3, threshold = 0.10)
        .select("id_a", "id_b")
      val nb = brute.count()
      val nh = lsh.filter(col("id_a") < 1000 && col("id_b") < 1000)
        .select("id_a", "id_b")
        .join(brute, Seq("id_a", "id_b"), "left_semi").count()
      val recall = if (nb == 0) 1.0 else nh.toDouble / nb
      lsh.withColumn("recall_vs_brute", round(lit(recall), 4))
        .orderBy("id_a", "id_b")
    }),

    // Signature-verified MinHash-LSH pairs — the batch twin of the
    // streaming cross-batch near-dup gate (NearDupStream: the
    // accumulated index stores signatures, never text, so the stream
    // verifies by minhash agreement; this query puts that verification
    // mode in the hash gate). md5 family ⟹ the ENTIRE path — signature,
    // banding, candidate join, agreement fraction — replays in DuckDB.
    "q175_sig_dedup" -> ((s, d) =>
      // spread the k=64 signature map (the q27 note)
      Dedup.minhashLsh(Tables.spread(s, d, "documents", "doc_id"),
          n = 3, k = 64, bands = 16,
          threshold = 0.5, md5Based = true, verify = "sig")
        .orderBy("id_a", "id_b")),

    "q28_simhash_pairs" -> ((s, d) =>
      // d ≤ 7 with 8-bit chunks keeps the pigeonhole full-recall
      // guarantee simhashPairs documents (and now enforces). md5Hash64
      // token hashes make the fingerprints — and therefore the exact
      // pair set — DuckDB-replicable (the oracle brute-forces pairs;
      // pigeonhole and brute agree because the bucketing is full-recall
      // by construction, so the oracle doubles as a recall proof).
      // The per-doc md5-per-token fingerprint map is the cost and the
      // documents table is ONE parquet split (wall ≈ run ≈ one busy
      // core, measured 5 s serial) — spread it at the bounded
      // small-scan quantum (the q214/q178 treatment); fingerprints are
      // per-row md5 algebra, partitioning-invariant.
      Dedup.simhashPairs(Tables.spread(s, d, "documents", "doc_id"),
          maxDist = 7, chunks = 8, hasher = Dedup.md5Hash64)
        .orderBy("id_a", "id_b")),

    // Dedup cluster resolution over the q26 pair graph: GraphX CC
    // labels every paired doc with the min doc_id of its component.
    "q44_dedup_clusters" -> ((s, d) =>
      Dedup.dupClusters(s, docJaccardPairs(s, d))),

    // Lee et al. exact duplicate-SPAN removal over planted boilerplate:
    // every 5th doc carries a 9-token tail (two duplicated 8-grams in
    // the tail; boundary grams stay unique per doc), so the globally
    // first plant keeps its copy and every later one loses exactly the
    // tail. Exact oracle — both engines replay the whole edit.
    "q179_dedup_spans" -> ((s, d) =>
      Dedup.dedupSpans(
        Tables.documents(s, d).select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(col("text"),
              lit(" zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8 zq9")))
            .otherwise(col("text")).as("text")),
        L = 8).orderBy("doc_id")),

    // Edit-distance-1 similarity join via FastSS deletion neighborhoods
    // on customer names (capped at custkey < 2000 so the ORACLE's brute
    // quadratic levenshtein stays runnable — the operator itself never
    // goes quadratic). The hash match against brute enumeration is the
    // losslessness proof for the deletion-key candidate filter.
    "q106_editdist_join" -> ((s, d) =>
      graft.pipeline.Dedup.editDistanceJoin(
        Tables.customer(s, d).filter(col("c_custkey") < 2000)
          .select(col("c_custkey").as("id"), col("c_name").as("s")))),

    "q45_winnow_fp" -> ((s, d) =>
      TextAnalysis.winnowFingerprints(Tables.documents(s, d), k = 4, w = 4)),

    "q46_winnow_pairs" -> ((s, d) => docWinnowPairs(s, d)),

    // End-to-end MOSS dedup: winnow fingerprints → shared-fp candidate
    // pairs → connected-component cluster resolution. The composition
    // that a real pipeline runs, oracle-checked all the way through.
    "q47_winnow_clusters" -> ((s, d) =>
      Dedup.dupClusters(s,
        docWinnowPairs(s, d).select(col("id_a"), col("id_b")))),

    // Decontamination: every 20th document stands in for the eval set;
    // per training doc, the fraction of its 3-gram shingles found
    // anywhere in that set.
    "q48_contamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contamination(docs, docs.filter(col("doc_id") % 20 === 0), n = 3)
    }),

    // Bloom screen twin of q48 (same ref slice): per-doc flagged count
    // carries the exact count beside it so approximation quality is
    // data the driver sees (cf. recall_vs_brute on q27/q30/q41) —
    // bloom_minus_exact counts false positives, never negatives.
    // Bloom screen vs exact contamination. The Bloom count itself is
    // sketch-dependent (not DuckDB-expressible), but its one provable
    // property — no false negatives, so n_flagged_ub >= n_exact on
    // EVERY row — is: ub_ge_exact must be uniformly true, and the
    // oracle hash-checks it alongside the exact counts. A Bloom
    // implementation with false negatives flips the flag and fails the
    // row hash.
    "q69_contamination_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val ref = docs.filter(col("doc_id") % 20 === 0)
      val bloom = Dedup.contaminationBloom(docs, ref, n = 3)
        .select(col("doc_id"), col("n_shingles"), col("n_flagged_ub"))
      val exact = Dedup.contamination(docs, ref, n = 3)
        .select(col("doc_id"), col("n_contaminated"))
      bloom.join(exact, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_contaminated"), lit(0L)).as("n_exact"),
          (col("n_flagged_ub") >=
            coalesce(col("n_contaminated"), lit(0L))).as("ub_ge_exact"))
    }),

    // Canonical-survivor selection: the full dedup pipeline ending —
    // jaccard pairs → cluster resolution → keep the highest-quality doc
    // per cluster (ties to smallest id), singletons keep themselves.
    "q53_dedup_keep" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.keepBest(s,
        TextAnalysis.qualityScore(docs),
        docJaccardPairs(s, d).select("id_a", "id_b"))
    }),

    // Passage-level boilerplate removal: 15-token windows, drop
    // non-first occurrences of globally duplicated passages, reassemble.
    "q68_dedup_passages" -> ((s, d) =>
      Dedup.dedupPassages(Tables.documents(s, d), window = 15)),

    // Prefix-filtered set-similarity self-join (AllPairs) over the SAME
    // 3-gram shingle space as q26: the prefix filter is LOSSLESS, so
    // the pair set must equal the brute posting-list join's — the
    // oracle replays the brute form and the hash compare doubles as a
    // correctness proof of the pruning. τ=0.5 is the operator's
    // operating point (near-dup level): the indexed prefix is
    // |x|−⌈τ|x|⌉+1 ≈ half of each document, so the candidate volume
    // halves-squared vs the full posting join — at τ→0 the prefix
    // approaches the whole set and the algorithm degenerates to q26's
    // brute form by design (SimJoinSpec pins equality at τ=0.10 too).
    "q96_setsim_join" -> ((s, d) =>
      // NO spread here (r16, measured): the q27-style input spread was
      // tried and in-bench cpu DOUBLED (16.2 → 35.8 s, its windowed
      // prefix/verify stages each pay the C2-warmup window per task)
      // for ~1 s of wall — the one dedup-family site where the trade
      // inverts. Reads the raw one-split scan.
      Dedup.setSimilarityJoin(Tables.documents(s, d),
        threshold = 0.5, n = 3)),

    // Blocked Jaro-Winkler fuzzy join on part names (record linkage
    // between exact dedup and editdist-1). DuckDB implements the same
    // JW definition, so this is a full cross-engine oracle; both
    // engines filter on the ROUNDED score to keep the cut identical.
    "q141_jw_join" -> ((s, d) =>
      Dedup.jaroWinklerJoin(
        Tables.part(s, d).filter(col("p_partkey") < 500)
          .select(col("p_partkey").as("id"), col("p_name").as("s")),
        threshold = 0.92).orderBy("id_a", "id_b")),

    // Fellegi–Sunter record linkage over prefix-blocked part pairs:
    // fuzzy name (JW) + exact brand/type agreement folded into the
    // log₂-likelihood match weight. Full cross-engine oracle — the
    // weights are driver-precomputed literals (see fellegiSunter doc),
    // so the sum replays bit-exactly.
    "q159_record_linkage" -> ((s, d) =>
      Dedup.fellegiSunter(
        Tables.part(s, d).filter(col("p_partkey") < 800),
        idCol = "p_partkey", nameCol = "p_name",
        exactCols = Seq("p_brand", "p_type"),
        mu = fsMu, nameThreshold = 0.9, matchThreshold = 6.0)
        .orderBy("id_a", "id_b")),
  )

  /** Round-8 additions, registered beside the r7 surface. */
  private def r8Queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Span-level eval-set decontamination (Lee et al. 2022 §4 — the
    // train/test-overlap REMOVAL pass, where q48/q69 only measure):
    // eval = every 11th document, so those docs (and any training doc
    // sharing a verbatim 8-gram with one, which the 31-word corpus's
    // natural near-dups provide) lose the overlapping spans. Exact
    // oracle — DuckDB replays the gram semi-join and the whole edit.
    "q189_decontaminate_spans" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.decontaminateSpans(docs.select("doc_id", "text"),
          docs.filter(col("doc_id") % 11 === 5).select("text"), L = 8)
        .orderBy("doc_id")
    }),

    // Dolma-style whole-document drop policy by duplicate-PASSAGE
    // fraction: where q68 edits each doc down to surviving passages,
    // this keeps/drops the document outright when > 30% of its
    // passages first occurred in an earlier doc. Exact oracle (q68's
    // passage split + the doc_id·10⁶+pidx first-key algebra).
    "q191_passage_dup_docs" -> ((s, d) =>
      Dedup.docsByDupPassages(Tables.documents(s, d), window = 15,
        threshold = 0.3).orderBy("doc_id")),

    // Cross-corpus near-dup gate, batch form (the incremental-crawl
    // operation: dedup this month's crawl against the accumulated
    // corpus). ref = even docs, new = odd docs — the synthetic
    // corpus's natural cross-parity near-dups exercise both outcomes.
    // md5 family ⟹ DuckDB replays signatures, banding, the cross-side
    // candidate join, the agreement verify, and the keep rollup.
    "q193_dedup_against" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.dedupAgainst(docs.filter(col("doc_id") % 2 === 1),
          docs.filter(col("doc_id") % 2 === 0),
          n = 3, k = 64, bands = 16, threshold = 0.5, md5Based = true)
        .orderBy("doc_id")
    }),

    // Asymmetric containment join (|A∩B|/|A| ≥ 0.8): excerpt/quote
    // detection — the pairs symmetric Jaccard (q26) misses because a
    // short excerpt of a long page has tiny union overlap. Ordered
    // pairs, contained side first; exact oracle (the q26 posting-list
    // brute with the asymmetric denominator).
    "q192_containment_pairs" -> ((s, d) =>
      // spread the shingle explode over the one-split scan (q27 note)
      Dedup.containmentPairs(Tables.spread(s, d, "documents", "doc_id"),
        n = 3, threshold = 0.8).orderBy("id_a", "id_b")))

  private def r8Oracles: Map[String, String] = Map(
    "q189_decontaminate_spans" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |ev AS (SELECT string_split(text, ' ') AS ts FROM documents
        |  WHERE doc_id % 11 = 5),
        |eg AS (SELECT DISTINCT array_to_string(ts[g.i + 1 : g.i + 8], ' ') AS gram
        |  FROM ev, LATERAL (SELECT unnest(generate_series(0, len(ts) - 8))
        |    AS i) g
        |  WHERE len(ts) >= 8),
        |tok AS (SELECT doc_id, g.i AS idx, ts[g.i + 1] AS token
        |  FROM d, LATERAL (SELECT unnest(generate_series(0, len(ts) - 1))
        |    AS i) g),
        |gr AS (SELECT doc_id, g.i AS idx,
        |    array_to_string(ts[g.i + 1 : g.i + 8], ' ') AS gram
        |  FROM d, LATERAL (SELECT unnest(generate_series(0, len(ts) - 8))
        |    AS i) g
        |  WHERE len(ts) >= 8),
        |rem AS (SELECT gr.doc_id, gr.idx AS s FROM gr
        |  SEMI JOIN eg USING (gram)),
        |cov AS (SELECT DISTINCT t.doc_id, t.idx FROM tok t JOIN rem r
        |  ON t.doc_id = r.doc_id AND t.idx BETWEEN r.s AND r.s + 7),
        |keep AS (SELECT t.doc_id, t.idx, t.token FROM tok t
        |  ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.idx = c.idx),
        |rb AS (SELECT doc_id, count(*) AS nk,
        |    array_to_string(list(token ORDER BY idx), ' ') AS cleaned
        |  FROM keep GROUP BY 1)
        |SELECT d.doc_id, CAST(len(d.ts) AS BIGINT) AS n_tokens,
        |  CAST(len(d.ts) - coalesce(rb.nk, 0) AS BIGINT) AS n_removed,
        |  coalesce(rb.cleaned, '') AS cleaned
        |FROM d LEFT JOIN rb USING (doc_id)""".stripMargin,

    // q68's passage split + first-occurrence key, aggregated to the
    // per-document drop decision; keep compares the ROUNDED fraction
    // in both engines so no float boundary can flip it.
    "q191_passage_dup_docs" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |p AS (SELECT doc_id, CAST(i AS INT) AS pidx,
        |    array_to_string(ts[(CAST(i AS INT)*15+1):(CAST(i AS INT)*15+15)],
        |      ' ') AS passage
        |  FROM t, unnest(range(0, CAST(ceil(len(ts)/15.0) AS BIGINT))) AS u(i)),
        |f AS (SELECT passage, min(doc_id * 1000000 + pidx) AS fk
        |  FROM p GROUP BY 1),
        |per AS (SELECT p.doc_id, count(*) AS n_passages,
        |    CAST(sum(CASE WHEN f.fk // 1000000 < p.doc_id THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_dup
        |  FROM p JOIN f USING (passage) GROUP BY 1),
        |g AS (SELECT t.doc_id,
        |    CAST(coalesce(per.n_passages, 0) AS BIGINT) AS n_passages,
        |    coalesce(per.n_dup, 0) AS n_dup
        |  FROM t LEFT JOIN per USING (doc_id)),
        |h AS (SELECT doc_id, n_passages, n_dup,
        |    CASE WHEN n_passages > 0
        |      THEN round(n_dup * 1.0 / n_passages, 6) ELSE 0.0 END AS dup_frac
        |  FROM g)
        |SELECT doc_id, n_passages, n_dup, dup_frac,
        |  dup_frac <= 0.3 AS keep FROM h""".stripMargin,

    // The q175 md5 signature/banding replay with a cross-parity
    // candidate join and the per-new-doc keep rollup.
    "q193_dedup_against" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t)-1),
        |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM d),
        |hm AS (SELECT doc_id, md5(s) AS m FROM sh),
        |hp AS (SELECT doc_id,
        |  CAST(CAST('0x' || substr(m, 1, 16) AS UBIGINT) AS HUGEINT) AS u1,
        |  CAST((CAST('0x' || substr(m, 17, 16) AS UBIGINT) | 1) AS HUGEINT) AS u2
        |  FROM hm),
        |hsg AS (SELECT doc_id,
        |  u1 - CASE WHEN u1 >= 9223372036854775808 THEN 18446744073709551616 ELSE 0 END AS s1,
        |  u2 - CASE WHEN u2 >= 9223372036854775808 THEN 18446744073709551616 ELSE 0 END AS s2
        |  FROM hp),
        |hs AS (SELECT doc_id, r.i, min(CAST(
        |  ((s1 + r.i * s2 + 9223372036854775808) % 18446744073709551616
        |    + 18446744073709551616) % 18446744073709551616
        |    - 9223372036854775808 AS BIGINT)) AS h
        |  FROM hsg, range(0, 64) r(i) GROUP BY 1, 2),
        |sig AS (SELECT doc_id, list(h ORDER BY i) AS sig FROM hs GROUP BY 1),
        |bb AS (SELECT doc_id, rb.b,
        |  md5(array_to_string(sig[rb.b*4+1 : rb.b*4+4], '|')) AS bucket
        |  FROM sig, range(0, 16) rb(b)),
        |cand AS (SELECT DISTINCT a.doc_id AS idn, b2.doc_id AS idr
        |  FROM bb a JOIN bb b2 ON a.b = b2.b AND a.bucket = b2.bucket
        |  WHERE a.doc_id % 2 = 1 AND b2.doc_id % 2 = 0),
        |sv AS (SELECT c.idn, c.idr FROM cand c
        |  JOIN sig sa ON sa.doc_id = c.idn
        |  JOIN sig sb ON sb.doc_id = c.idr
        |  WHERE round(len(list_filter(range(1, 65),
        |    i -> sa.sig[i] = sb.sig[i])) / 64.0, 6) >= 0.5),
        |hits AS (SELECT idn AS doc_id, count(*) AS n_matches,
        |    min(idr) AS matched_ref
        |  FROM sv GROUP BY 1)
        |SELECT d0.doc_id, h.matched_ref IS NULL AS keep,
        |  CAST(coalesce(h.n_matches, 0) AS BIGINT) AS n_matches,
        |  h.matched_ref
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d0
        |LEFT JOIN hits h USING (doc_id)""".stripMargin,

    // The q26 posting-list brute with the asymmetric |A∩B|/|A|
    // denominator and both pair directions kept.
    "q192_containment_pairs" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t)-1),
        |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM d),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |  FROM sh a JOIN sh b USING (s) WHERE a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, round(c * 1.0 / na.n, 6) AS containment
        |FROM inter JOIN sz na ON na.doc_id = id_a
        |WHERE c * 1.0 / na.n >= 0.8""".stripMargin)

  def oracleSql: Map[String, String] = r8Oracles ++ Map(
    // Brute-force quadratic levenshtein over the capped universe — the
    // ground truth the deletion-neighborhood join must reproduce
    // exactly (losslessness proof; FastSS guarantees no false
    // negatives at d ≤ 1, the verify step removes false positives).
    "q106_editdist_join" ->
      """WITH c AS (SELECT c_custkey AS id, c_name AS s FROM customer
        |  WHERE c_custkey < 2000)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM c a JOIN c b ON a.id < b.id
        |WHERE levenshtein(a.s, b.s) <= 1""".stripMargin,

    "q24_dedup_exact" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,

    // Same blocking key, same JW definition, same rounded-score cut.
    // Same block join, same rounded-JW agreement cut, and the SAME
    // weight literals summed in the same left-assoc order.
    "q159_record_linkage" -> {
      val Seq(wa0, wa1, wa2) = fsWa
      val Seq(wd0, wd1, wd2) = fsWd
      // CAST each leg: DuckDB parses decimal literals as DECIMAL and
      // would sum in decimal arithmetic; the weights are doubles.
      val w = s"(CASE WHEN agree_p_name THEN CAST($wa0 AS DOUBLE) " +
        s"ELSE CAST($wd0 AS DOUBLE) END) " +
        s"+ (CASE WHEN agree_p_brand THEN CAST($wa1 AS DOUBLE) " +
        s"ELSE CAST($wd1 AS DOUBLE) END) " +
        s"+ (CASE WHEN agree_p_type THEN CAST($wa2 AS DOUBLE) " +
        s"ELSE CAST($wd2 AS DOUBLE) END)"
      s"""WITH p AS (SELECT p_partkey AS id, p_name, p_brand, p_type
         |  FROM part WHERE p_partkey < 800),
         |c AS (
         |  SELECT a.id AS id_a, b.id AS id_b,
         |    round(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.9
         |      AS agree_p_name,
         |    a.p_brand = b.p_brand AS agree_p_brand,
         |    a.p_type = b.p_type AS agree_p_type
         |  FROM p a JOIN p b ON a.id < b.id
         |    AND substr(a.p_name, 1, 4) = substr(b.p_name, 1, 4))
         |SELECT id_a, id_b, agree_p_name, agree_p_brand, agree_p_type,
         |  round($w, 6) AS weight,
         |  round($w, 6) >= 6.0 AS is_match
         |FROM c""".stripMargin
    },

    "q141_jw_join" ->
      """WITH p AS (SELECT p_partkey AS id, p_name AS s FROM part
        |  WHERE p_partkey < 500)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  round(jaro_winkler_similarity(a.s, b.s), 6) AS jw
        |FROM p a JOIN p b ON a.id < b.id
        |  AND substr(a.s, 1, 4) = substr(b.s, 1, 4)
        |WHERE round(jaro_winkler_similarity(a.s, b.s), 6) >= 0.92""".stripMargin,

    "q25_fingerprint" ->
      """SELECT doc_id, md5(array_to_string(
        |  list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
        |FROM documents""".stripMargin,

    "q26_jaccard_pairs" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t)-1),
        |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM d),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |  FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b, round(c * 1.0 / (na.n + nb.n - c), 6) AS jaccard
        |FROM inter JOIN sz na ON na.doc_id = id_a JOIN sz nb ON nb.doc_id = id_b
        |WHERE c * 1.0 / (na.n + nb.n - c) >= 0.10""".stripMargin,

    // q27's md5-family replica up to the candidate join, verified by
    // SIGNATURE agreement instead of true Jaccard (the q175 mode):
    // jaccard = (#agreeing of 64 minhash positions)/64.
    "q175_sig_dedup" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t)-1),
        |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM d),
        |hm AS (SELECT doc_id, md5(s) AS m FROM sh),
        |hp AS (SELECT doc_id,
        |  CAST(CAST('0x' || substr(m, 1, 16) AS UBIGINT) AS HUGEINT) AS u1,
        |  CAST((CAST('0x' || substr(m, 17, 16) AS UBIGINT) | 1) AS HUGEINT) AS u2
        |  FROM hm),
        |hsg AS (SELECT doc_id,
        |  u1 - CASE WHEN u1 >= 9223372036854775808 THEN 18446744073709551616 ELSE 0 END AS s1,
        |  u2 - CASE WHEN u2 >= 9223372036854775808 THEN 18446744073709551616 ELSE 0 END AS s2
        |  FROM hp),
        |hs AS (SELECT doc_id, r.i, min(CAST(
        |  ((s1 + r.i * s2 + 9223372036854775808) % 18446744073709551616
        |    + 18446744073709551616) % 18446744073709551616
        |    - 9223372036854775808 AS BIGINT)) AS h
        |  FROM hsg, range(0, 64) r(i) GROUP BY 1, 2),
        |sig AS (SELECT doc_id, list(h ORDER BY i) AS sig FROM hs GROUP BY 1),
        |bb AS (SELECT doc_id, rb.b,
        |  md5(array_to_string(sig[rb.b*4+1 : rb.b*4+4], '|')) AS bucket
        |  FROM sig, range(0, 16) rb(b)),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
        |  FROM bb a JOIN bb b2 ON a.b = b2.b AND a.bucket = b2.bucket
        |  WHERE a.doc_id < b2.doc_id),
        |sv AS (SELECT c.id_a, c.id_b,
        |  round(len(list_filter(range(1, 65),
        |    i -> sa.sig[i] = sb.sig[i])) / 64.0, 6) AS jaccard
        |  FROM cand c JOIN sig sa ON sa.doc_id = c.id_a
        |  JOIN sig sb ON sb.doc_id = c.id_b)
        |SELECT id_a, id_b, jaccard FROM sv WHERE jaccard >= 0.5""".stripMargin,

    // Full MinHash+LSH replica of the Kirsch–Mitzenmacher md5 family:
    // each shingle's single md5 digest splits into two 64-bit halves,
    // h_i = h1 + i·(h2|1) with two's-complement wrap — rebuilt here with
    // HUGEINT mod-2^64 arithmetic (DuckDB BIGINT ops raise on overflow,
    // so the wrap is made explicit; the ±2^63 shuffle converts between
    // the unsigned hex value and Spark's signed long). Band bucket =
    // md5 of the "|"-joined 4-hash slice, candidates verified against
    // true Jaccard, and the recall_vs_brute constant recomputed from
    // the capped (<1000) brute twin — cell-identical to the Spark frame.
    "q27_minhash_lsh" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t)-1),
        |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM d),
        |hm AS (SELECT doc_id, md5(s) AS m FROM sh),
        |hp AS (SELECT doc_id,
        |  CAST(CAST('0x' || substr(m, 1, 16) AS UBIGINT) AS HUGEINT) AS u1,
        |  CAST((CAST('0x' || substr(m, 17, 16) AS UBIGINT) | 1) AS HUGEINT) AS u2
        |  FROM hm),
        |hsg AS (SELECT doc_id,
        |  u1 - CASE WHEN u1 >= 9223372036854775808 THEN 18446744073709551616 ELSE 0 END AS s1,
        |  u2 - CASE WHEN u2 >= 9223372036854775808 THEN 18446744073709551616 ELSE 0 END AS s2
        |  FROM hp),
        |hs AS (SELECT doc_id, r.i, min(CAST(
        |  ((s1 + r.i * s2 + 9223372036854775808) % 18446744073709551616
        |    + 18446744073709551616) % 18446744073709551616
        |    - 9223372036854775808 AS BIGINT)) AS h
        |  FROM hsg, range(0, 64) r(i) GROUP BY 1, 2),
        |sig AS (SELECT doc_id, list(h ORDER BY i) AS sig FROM hs GROUP BY 1),
        |bb AS (SELECT doc_id, rb.b,
        |  md5(array_to_string(sig[rb.b*4+1 : rb.b*4+4], '|')) AS bucket
        |  FROM sig, range(0, 16) rb(b)),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
        |  FROM bb a JOIN bb b2 ON a.b = b2.b AND a.bucket = b2.bucket
        |  WHERE a.doc_id < b2.doc_id),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT c.id_a, c.id_b, count(*) AS c
        |  FROM cand c JOIN sh a ON a.doc_id = c.id_a
        |  JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s GROUP BY 1, 2),
        |ver AS (SELECT id_a, id_b, round(c * 1.0 / (na.n + nb.n - c), 6) AS jaccard
        |  FROM inter JOIN sz na ON na.doc_id = id_a JOIN sz nb ON nb.doc_id = id_b
        |  WHERE c * 1.0 / (na.n + nb.n - c) >= 0.10),
        |bru AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |  FROM sh a JOIN sh b USING (s)
        |  WHERE a.doc_id < b.doc_id AND a.doc_id < 1000 AND b.doc_id < 1000
        |  GROUP BY 1, 2),
        |brup AS (SELECT id_a, id_b
        |  FROM bru JOIN sz na ON na.doc_id = id_a JOIN sz nb ON nb.doc_id = id_b
        |  WHERE c * 1.0 / (na.n + nb.n - c) >= 0.10),
        |hit AS (SELECT count(*) AS nb, count(*) FILTER (WHERE EXISTS
        |  (SELECT 1 FROM ver v WHERE v.id_a = brup.id_a AND v.id_b = brup.id_b)) AS nh
        |  FROM brup),
        |rec AS (SELECT CASE WHEN nb = 0 THEN 1.0 ELSE round(nh * 1.0 / nb, 4) END
        |  AS recall_vs_brute FROM hit)
        |SELECT v.id_a, v.id_b, v.jaccard, rec.recall_vs_brute
        |FROM ver v CROSS JOIN rec""".stripMargin,

    // SimHash brute-force twin: md5Hash64 token hashes rebuilt as
    // CAST('0x'||substr(md5(w),1,16) AS UBIGINT) (identical 64 bits),
    // majority-vote fingerprint assembled bit by bit, and ALL pairs
    // scanned at distance ≤ 7 — the pigeonhole-bucketed Spark operator
    // must produce the identical set (full recall by construction), so
    // this oracle row doubles as a recall proof. The 64 per-bit sums
    // are generated, not hand-written.
    "q28_simhash_pairs" -> {
      val sums = (0 until 64).map(b =>
        s"sum(CAST((h >> $b) & 1 AS BIGINT)) AS c$b").mkString(",\n  ")
      // toUnsignedString: bit 63's constant must print as 2^63, not
      // Long.MinValue's negative literal, to cast into UBIGINT
      val fp = (0 until 64).map(b =>
        s"CASE WHEN 2*c$b > n THEN ${java.lang.Long.toUnsignedString(1L << b)}::UBIGINT ELSE 0::UBIGINT END")
        .mkString(" + ")
      s"""WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
         |  FROM documents),
         |h AS (SELECT doc_id, CAST('0x' || substr(md5(w), 1, 16) AS UBIGINT) AS h
         |  FROM tok),
         |bits AS (SELECT doc_id, count(*) AS n,
         |  $sums
         |  FROM h GROUP BY 1),
         |fp AS (SELECT doc_id, $fp AS fp FROM bits),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS dist
         |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, dist FROM pairs WHERE dist <= 7""".stripMargin
    },

    // Connected components via transitive closure (recursive CTE) over
    // the q26 pair graph; cluster label = min reachable id. Feasible in
    // SQL because the closure is bounded by dup-cluster sizes, not the
    // corpus.
    "q44_dedup_clusters" ->
      """WITH RECURSIVE
        |d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t)-1),
        |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM d),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |  FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b
        |  FROM inter JOIN sz na ON na.doc_id = id_a JOIN sz nb ON nb.doc_id = id_b
        |  WHERE c * 1.0 / (na.n + nb.n - c) >= 0.10),
        |e AS (SELECT id_a AS a, id_b AS b FROM pairs
        |      UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        |nodes AS (SELECT DISTINCT a AS id FROM e)
        |SELECT n.id AS doc_id, least(n.id, min(r.b)) AS keep_id,
        |  least(n.id, min(r.b)) = n.id AS keep
        |FROM nodes n JOIN reach r ON r.a = n.id
        |GROUP BY n.id""".stripMargin,

    // Exact replay of the span-removal algebra: positional grams,
    // count/min-key aggregate, coverage join, anti join, ordered
    // reassembly.
    "q179_dedup_spans" ->
      """WITH t0 AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN text || ' zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8 zq9'
        |    ELSE text END AS text FROM documents),
        |d AS (SELECT doc_id, string_split(text, ' ') AS ts FROM t0),
        |tok AS (SELECT doc_id, g.i AS idx, ts[g.i + 1] AS token
        |  FROM d, LATERAL (SELECT unnest(generate_series(0, len(ts) - 1))
        |    AS i) g),
        |gr AS (SELECT doc_id, g.i AS idx,
        |    array_to_string(ts[g.i + 1 : g.i + 8], ' ') AS gram,
        |    doc_id * 1000000 + g.i AS key
        |  FROM d, LATERAL (SELECT unnest(generate_series(0, len(ts) - 8))
        |    AS i) g
        |  WHERE len(ts) >= 8),
        |f AS (SELECT gram, count(*) AS cnt, min(key) AS fk FROM gr
        |  GROUP BY 1),
        |rem AS (SELECT gr.doc_id, gr.idx AS s FROM gr JOIN f USING (gram)
        |  WHERE f.cnt > 1 AND gr.key <> f.fk),
        |cov AS (SELECT DISTINCT t.doc_id, t.idx FROM tok t JOIN rem r
        |  ON t.doc_id = r.doc_id AND t.idx BETWEEN r.s AND r.s + 7),
        |keep AS (SELECT t.doc_id, t.idx, t.token FROM tok t
        |  ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.idx = c.idx),
        |rb AS (SELECT doc_id, count(*) AS nk,
        |    array_to_string(list(token ORDER BY idx), ' ') AS cleaned
        |  FROM keep GROUP BY 1)
        |SELECT d.doc_id, CAST(len(d.ts) AS BIGINT) AS n_tokens,
        |  CAST(len(d.ts) - coalesce(rb.nk, 0) AS BIGINT) AS n_removed,
        |  coalesce(rb.cleaned, '') AS cleaned
        |FROM d LEFT JOIN rb USING (doc_id)""".stripMargin,

    // Winnowing (Schleimer et al. 2003): k-gram md5 hashes, window-min
    // selection, distinct survivors. DuckDB list lambdas mirror the
    // Spark transform/slice/array_min pipeline exactly; md5 hex compares
    // identically in both engines.
    "q45_winnow_fp" ->
      """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id,
        |  CASE WHEN len(t) >= 4
        |    THEN list_transform(range(1, len(t) - 4 + 2),
        |           i -> md5(array_to_string(t[i:i+3], ' ')))
        |    ELSE [md5(text)] END AS h
        |  FROM d),
        |m AS (SELECT doc_id,
        |  list_transform(range(1, greatest(len(h) - 4 + 1, 1) + 1),
        |    i -> list_aggregate(h[i:i+3], 'min')) AS mins
        |  FROM g)
        |SELECT DISTINCT doc_id, unnest(mins) AS fp FROM m""".stripMargin,

    "q46_winnow_pairs" ->
      """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id,
        |  CASE WHEN len(t) >= 4
        |    THEN list_transform(range(1, len(t) - 4 + 2),
        |           i -> md5(array_to_string(t[i:i+3], ' ')))
        |    ELSE [md5(text)] END AS h
        |  FROM d),
        |m AS (SELECT doc_id,
        |  list_transform(range(1, greatest(len(h) - 4 + 1, 1) + 1),
        |    i -> list_aggregate(h[i:i+3], 'min')) AS mins
        |  FROM g),
        |fp AS (SELECT DISTINCT doc_id, unnest(mins) AS fp FROM m)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |FROM fp a JOIN fp b USING (fp) WHERE a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    "q47_winnow_clusters" ->
      """WITH RECURSIVE
        |d AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id,
        |  CASE WHEN len(t) >= 4
        |    THEN list_transform(range(1, len(t) - 4 + 2),
        |           i -> md5(array_to_string(t[i:i+3], ' ')))
        |    ELSE [md5(text)] END AS h
        |  FROM d),
        |m AS (SELECT doc_id,
        |  list_transform(range(1, greatest(len(h) - 4 + 1, 1) + 1),
        |    i -> list_aggregate(h[i:i+3], 'min')) AS mins
        |  FROM g),
        |fp AS (SELECT DISTINCT doc_id, unnest(mins) AS fp FROM m),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM fp a JOIN fp b USING (fp) WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT id_a AS a, id_b AS b FROM pairs
        |      UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        |nodes AS (SELECT DISTINCT a AS id FROM e)
        |SELECT n.id AS doc_id, least(n.id, min(r.b)) AS keep_id,
        |  least(n.id, min(r.b)) = n.id AS keep
        |FROM nodes n JOIN reach r ON r.a = n.id
        |GROUP BY n.id""".stripMargin,

    "q48_contamination" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t)-1),
        |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM d),
        |ref AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0),
        |tot AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
        |hit AS (SELECT doc_id, count(*) AS n_hit FROM sh
        |        WHERE s IN (SELECT s FROM ref) GROUP BY 1)
        |SELECT tot.doc_id, tot.n_shingles,
        |  coalesce(hit.n_hit, 0) AS n_contaminated,
        |  round(coalesce(hit.n_hit, 0) * 1.0 / tot.n_shingles, 6) AS contamination
        |FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id""".stripMargin,

    // Exact contamination counts replicated in SQL; the Bloom screen's
    // no-false-negative invariant is the literal TRUE the Spark side
    // must reproduce on every row.
    "q69_contamination_bloom" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t)-1),
        |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM d),
        |ref AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0),
        |cnt AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
        |hit AS (SELECT sh.doc_id, count(*) AS n_exact
        |  FROM sh JOIN ref USING (s) GROUP BY 1)
        |SELECT doc.doc_id, coalesce(cnt.n_shingles, 0) AS n_shingles,
        |  coalesce(hit.n_exact, 0) AS n_exact, TRUE AS ub_ge_exact
        |FROM documents doc
        |LEFT JOIN cnt ON cnt.doc_id = doc.doc_id
        |LEFT JOIN hit ON hit.doc_id = doc.doc_id""".stripMargin,

    "q68_dedup_passages" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |p AS (SELECT doc_id, CAST(i AS INT) AS pidx,
        |    array_to_string(ts[(CAST(i AS INT)*15+1):(CAST(i AS INT)*15+15)],
        |      ' ') AS passage
        |  FROM t, unnest(range(0, CAST(ceil(len(ts)/15.0) AS BIGINT))) AS u(i)),
        |k AS (SELECT doc_id, pidx, passage,
        |    count(*) OVER (PARTITION BY passage) AS n_copies,
        |    row_number() OVER (PARTITION BY passage ORDER BY doc_id, pidx) AS rn
        |  FROM p),
        |r AS (SELECT doc_id, string_agg(passage, ' ' ORDER BY pidx)
        |    AS text_deduped, count(*) AS n_kept
        |  FROM k WHERE n_copies < 2 OR rn = 1 GROUP BY 1)
        |SELECT t.doc_id, coalesce(r.text_deduped, '') AS text_deduped,
        |  CAST(ceil(len(t.ts)/15.0) AS BIGINT) AS n_passages,
        |  coalesce(r.n_kept, 0) AS n_kept
        |FROM t LEFT JOIN r USING (doc_id)""".stripMargin,

    // The q26 brute posting-list join with the overlap count carried —
    // the prefix-filtered Spark plan must reproduce it EXACTLY (the
    // filter is lossless), so this row is both an oracle and a proof.
    "q96_setsim_join" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t)-1),
        |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM d),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |  FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b, c AS n_common,
        |  round(c * 1.0 / (na.n + nb.n - c), 6) AS jaccard
        |FROM inter JOIN sz na ON na.doc_id = id_a JOIN sz nb ON nb.doc_id = id_b
        |WHERE c * 1.0 / (na.n + nb.n - c) >= 0.5""".stripMargin,

    // q44's recursive-CTE closure + q31's quality components composed
    // into the survivor selection: same cluster labels, same rounded
    // quality formula (round-then-multiply order mirrors the Spark
    // column expression so the doubles are bit-identical).
    "q53_dedup_keep" ->
      """WITH RECURSIVE
        |d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t)-1),
        |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM d),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |  FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b
        |  FROM inter JOIN sz na ON na.doc_id = id_a JOIN sz nb ON nb.doc_id = id_b
        |  WHERE c * 1.0 / (na.n + nb.n - c) >= 0.10),
        |e AS (SELECT id_a AS a, id_b AS b FROM pairs
        |      UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        |clusters AS (
        |  SELECT a AS doc_id, least(a, min(b)) AS keep_id FROM reach GROUP BY a),
        |q AS (SELECT doc_id,
        |  (CASE WHEN len(string_split(text, ' ')) < 5
        |      THEN 0.1::DOUBLE ELSE 1.0::DOUBLE END)
        |    * (1.0 - least(round(len(regexp_extract_all(text, '[^\w\s]')) * 1.0 /
        |        greatest(length(text), 1), 6) * 4, 1.0::DOUBLE) * 0.5)
        |    * (1.0 - round(1.0 - len(list_distinct(string_split(text, ' '))) * 1.0 /
        |        greatest(len(string_split(text, ' ')), 1), 6) * 0.5) AS quality
        |  FROM documents),
        |lab AS (SELECT q.doc_id, coalesce(c.keep_id, q.doc_id) AS cluster_id,
        |  q.quality FROM q LEFT JOIN clusters c ON c.doc_id = q.doc_id)
        |SELECT doc_id, cluster_id, quality,
        |  row_number() OVER (PARTITION BY cluster_id
        |    ORDER BY quality DESC, doc_id ASC) = 1 AS keep
        |FROM lab""".stripMargin,
  )
}
