package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.pipeline.{Bpe, Dedup, Multimodal, Similarity, TextAnalysis, Unigram}

/** Training-data pipeline surface as driver-checkable queries over the
  * documents/embeddings tables: dedup (exact, fingerprint, n-gram
  * Jaccard, MinHash-LSH, SimHash), similarity search (brute-force,
  * sign-LSH), text analysis (tokens, quality, language ID), multimodal
  * decode plumbing. Hash-function-dependent ops (xxhash64) have no
  * DuckDB equivalent → rows-only; everything md5/arithmetic-based is
  * oracle-checked.
  */
object PipelineQueries {

  // q218 script alphabets, shared by the query and its oracle so both
  // engines build the SAME four-script corpus (q159 literal-sharing
  // pattern). Each target maps the 26 latin letters 1:1 into another
  // writing system via translate(); lengths are asserted so a silent
  // editor mangling can't turn translate into char deletion.
  private[queries] val latinAz = "abcdefghijklmnopqrstuvwxyz"
  private[queries] val scriptTargets: Seq[(Int, String, String)] = Seq(
    (0, "lat", latinAz),
    (1, "cyr", "абвгдежзийклмнопрстуфхцчшщ"),
    (2, "gre", "αβγδεζηθικλμνξοπρστυφχψωάέ"),
    (3, "dev", "कखगघङचछजझञटठडढणतथदधनपफबभमय"))
  require(scriptTargets.forall(_._3.length == 26),
    "q218 script alphabets must be 26 chars for a 1:1 translate")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TRAINED char-bigram language ID (r14 verdict #8): a four-script
    // corpus is forged from `documents` by 1:1 alphabet translation
    // (latin/cyrillic/greek/devanagari), the NB gram profile is
    // TRAINED on even doc_ids and the odd half is held out — the
    // output is the held-out prediction table, so the oracle replays
    // the training aggregation AND the argmax scoring. Scores are
    // compared only through the argmax (ties broken by language
    // code), keeping the row hash free of float-sum-order hazards.
    "q218_langid_profile" -> ((s, d) => {
      // ONE corpus scan forges all four script variants (explode over
      // the script index, literal-argument translate per branch)
      // instead of a 4-leg union that re-scanned the corpus per leg;
      // the round-robin repartition spreads the translate+gram work
      // over the session's cores (the parquet layout is 4 row groups,
      // so the heavy map stages otherwise run 4-wide).
      val langCase = scriptTargets.map { case (idx, lang, _) =>
        when(col("_i") === idx, lit(lang)) }.reduceRight(_ otherwise _)
      val textCase = scriptTargets.map { case (idx, _, target) =>
        when(col("_i") === idx,
          translate(lower(col("text")), latinAz, target)) }
        .reduceRight(_ otherwise _)
      // the spread's numbered repartition (REPARTITION_BY_NUM is the
      // one origin AQE never coalesces — both the bare and the
      // expression-only form were sized down to ONE partition on this
      // few-hundred-KB corpus and the gram stages ran serial), keyed on
      // the unique doc_id for an even spread — the stage is CPU-bound
      // per row, not byte-bound, so core count is the right scale
      val variants = Tables.spread(s, d, "documents", "doc_id")
        .select(col("doc_id"), col("text"),
          explode(array(scriptTargets.map(t => lit(t._1)): _*)).as("_i"))
        .select((col("doc_id") * 4 + col("_i")).as("vid"), col("doc_id"),
          langCase.as("lang"), textCase.as("text"))
      val train = variants.filter(col("doc_id") % 2 === 0)
      val test = variants.filter(col("doc_id") % 2 =!= 0)
      // langProfileTrain materializes the (bounded) model eagerly, so
      // the broadcast-twice read pattern of langProfileId hits its
      // cache instead of replaying the train-corpus gram aggregation
      val profile = TextAnalysis.langProfileTrain(train)
      TextAnalysis.langProfileId(test, profile, idCol = "vid")
        .join(test.select("vid", "lang"), "vid")
        .select(col("vid"), col("lang").as("lang_true"),
          col("lang_pred"),
          (col("lang_pred") === col("lang")).as("correct"))
        .orderBy("vid")
    }),

    // CCNet head/middle/tail perplexity bucketing: per SOURCE, docs
    // split into LM-quality tertiles by the q64 unigram NLL (CCNet
    // §4.2 does exactly this per language with a KenLM score — head =
    // closest to the LM, the slice pretraining keeps preferentially).
    // The ntile window is source-partitioned (scale-safe) and orders
    // on the ROUNDED oracle-proven NLL with a doc_id tiebreak, so the
    // cut replays identically in both engines. Exact oracle.
    "q180_ccnet_buckets" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val nll = TextAnalysis.unigramLogLik(docs)
      val w = Window.partitionBy("source")
        .orderBy(col("avg_nll"), col("doc_id"))
      val nt = ntile(3).over(w)
      docs.select("doc_id", "source").join(nll, "doc_id")
        .withColumn("bucket", when(nt === 1, "head")
          .when(nt === 2, "middle").otherwise("tail"))
        .select(col("doc_id"), col("source"), col("avg_nll"), col("bucket"))
        .orderBy("doc_id")
    }),

    // Text normalization over planted mess (the corpus is already
    // clean lowercase, so the query plants mixed case, whitespace
    // runs, and repeated punctuation — q177 idiom); the idempotence
    // audit is recomputed in BOTH engines. Exact oracle.
    "q186_normalize_text" -> ((s, d) =>
      TextAnalysis.normalizeText(
        Tables.documents(s, d).select(col("doc_id"),
          concat(lit("  MiXeD\tCASE  "), col("text"),
            when(col("doc_id") % 4 === 0, lit(" Wow!!!  Really??"))
              .otherwise(lit("\nnew  line,,, end.")))
            .as("text")))
        .select("doc_id", "normalized", "changed", "idempotent")
        .orderBy("doc_id")),

    // mC4/mT5 α-sampling: per-language corpus shares → p^α mixture
    // weights, oversample factors, expected docs at a 10k budget.
    // One grouped count + tiny-frame algebra. Exact oracle.
    "q182_temperature_sampling" -> ((s, d) =>
      TextAnalysis.temperatureWeights(Tables.documents(s, d),
        alpha = 0.3, budget = 10000L).orderBy("lang")),

    // DoReMi-style loss-based domain reweighting (static closed form):
    // per-source mean unigram NLL (the q64 machinery) → softmax
    // mixture weights with identical max-subtraction in both engines.
    // Exact oracle.
    "q183_domain_mix_weights" -> ((s, d) =>
      TextAnalysis.domainMixWeights(Tables.documents(s, d), eta = 1.0)
        .orderBy("source")),

    // Gopher quality rules over planted line/symbol structure (the
    // corpus is single-line without bullets/ellipses/stopwords, so the
    // query constructs each rule's trigger in-plan — the q177 planting
    // idiom): every 3rd doc gains a bullet line plus TWO ellipsis
    // lines (flipping ellipsis_ok), every 7th gains hash symbols
    // (flipping symbol_ok/alpha_ok on short docs), the rest gain a
    // stopword-rich sentence (satisfying stop_ok). All rule booleans
    // are integer algebra — exact oracle.
    "q181_gopher_rules" -> ((s, d) =>
      TextAnalysis.gopherRules(
        Tables.documents(s, d).select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 3 === 0,
              lit("\n• promo item\nread more...\nclick here..."))
              .when(col("doc_id") % 7 === 0, lit(" ## ## ##"))
              .otherwise(lit("\nthe end of that story and with more")))
            .as("text")),
        minWords = 5L)
        .select("doc_id", "n_words", "n_lines", "mean_word_len",
          "symbol_ratio", "n_stopwords", "words_ok", "word_len_ok",
          "symbol_ok", "bullet_ok", "ellipsis_ok", "alpha_ok", "stop_ok",
          "gopher_keep")
        .orderBy("doc_id")),

    // Model-based quality filtering (the GPT-3/CCNet classifier stage):
    // logistic regression on the q31 quality features, trained by
    // one-aggregate-per-iteration full-batch GD to distill the
    // rule-based keep gate into a soft score (the classic setup — rules
    // label, the classifier generalizes/ranks). Invariant oracle: the
    // weights are float-sum-order data, but the training CONTRACT is
    // pinned per doc — scores are valid probabilities, the final loss
    // strictly beats the zero model, and AUC against the rule labels
    // clears 0.75 (measured 0.98+ at sf0.01/sf0.1; a learner that
    // stopped learning fails the row hash).
    "q178_quality_classifier" -> ((s, d) => {
      import graft.pipeline.QualityClassifier
      // the quality featurization is regex/token-heavy per row and the
      // documents table is ONE parquet split, so both featurize
      // consumers (the train collect and the scoring map) ran serial —
      // the spread (never AQE-coalesced) puts them on the bounded
      // small-scan quantum (the q214 band-key treatment; guide §2.5
      // input skew). Output columns are contract booleans, insensitive
      // to the row order this changes.
      val docs = Tables.spread(s, d, "documents", "doc_id")
      val feat = QualityClassifier.featurize(docs, col("keep"))
      val (w, losses) = QualityClassifier.train(feat, iters = 30, lr = 1.0)
      val scored = QualityClassifier.score(feat, w).cache()
      val a = QualityClassifier.auc(scored)
      scored.select(col("doc_id"),
          (col("score") >= 0.0 && col("score") <= 1.0 &&
            !isnan(col("score"))).as("score_range_ok"),
          lit(losses.last < losses.head - 1e-6).as("loss_improved"),
          lit(a >= 0.75).as("auc_ok"))
        .orderBy("doc_id")
    }),

    // A8 bootstrap CI of Spearman rho — the LAST §2 operator without a
    // driver-gate row (reference visualization.py:31-46). md5-keyed
    // Poisson resampling on doc_id (the q87/q92 discipline): DuckDB
    // replays every resample's weights, weighted tie-ranks, rho, and
    // the 2.5/97.5 percentile cut. x = token count, y = char count —
    // correlated but not perfectly (doc-length ties), so the resampled
    // rho distribution has genuine spread for the CI to measure.
    "q188_bootstrap_ci" -> ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"),
        size(split(col("text"), " ")).cast("double").as("xv"),
        col("n_chars").cast("double").as("yv"))
      graft.metrics.Correlation.bootstrapCiMd5(base, "doc_id", "xv", "yv",
          resamples = 200)
        .orderBy("i")
    }),

    // C4-style rule cleaning over planted multi-line documents (the
    // synthetic corpus is single-line with no punctuation, so the query
    // constructs the line structure in-plan — the q49 planting idiom;
    // both engines build and clean identical strings). Line 1 is the
    // corpus text with terminal punctuation (kept), line 2 is
    // unterminated boilerplate — carrying "lorem ipsum" on every 7th
    // doc, which drops the whole document — line 3 is the enable-
    // JavaScript banner, line 4 is under the word floor. Exact oracle.
    "q177_c4_clean" -> ((s, d) =>
      TextAnalysis.c4Clean(
        Tables.documents(s, d).select(col("doc_id"),
          concat(col("text"), lit(".\n"),
            when(col("doc_id") % 7 === 0, lit("buy now lorem ipsum"))
              .otherwise(lit("buy now click here")),
            lit("\nEnable JavaScript and cookies to continue.\ntoo short."))
            .as("text")))
        .select("doc_id", "n_lines", "n_kept", "cleaned", "doc_dropped")
        .orderBy("doc_id")),

    "q31_text_quality" -> ((s, d) =>
      TextAnalysis.keepDecision(Tables.documents(s, d))
        .select("doc_id", "n_words", "mean_word_len", "punct_ratio",
          "stopword_ratio", "repetition", "keep")),

    "q32_langid" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.languageId(col("text")).as("lang_pred"))),

    "q33_token_counts" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.wordCount(col("text")).as("n_words"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))),

    // Overlapping sliding-window chunking (RAG pre-processing): 64-token
    // windows advancing by 48 over each document — a pure narrow map
    // (see TextAnalysis.chunkDocuments).
    "q107_chunk_overlap" -> ((s, d) =>
      TextAnalysis.chunkDocuments(Tables.documents(s, d))),

    // Flesch-style readability audit over the corpus (vowel-group
    // syllable heuristic; see TextAnalysis.readability).
    "q127_readability" -> ((s, d) =>
      TextAnalysis.readability(Tables.documents(s, d))),

    // Per-group uniform k-sample: 25 docs per source by md5 rank — the
    // replayable per-stratum pick (q50's deterministicSample gives a
    // RATE per stratum; this gives an exact COUNT). The rank filter
    // plans as WindowGroupLimit, so each group's sort stops at k rows
    // map-side — no full per-group sort, the q04 machinery.
    "q120_group_sample" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source")
        .orderBy(md5(concat(lit("gs:"), col("doc_id"))), col("doc_id"))
      Tables.documents(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 25)
        .select(col("source"), col("doc_id"), col("rn"))
    }),

    // PII scrubbing over text with planted email/IP/phone (planted in
    // the query so both engines construct and scrub identical strings —
    // the synthetic corpus itself contains no PII).
    "q49_pii_scrub" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.scrubPii(concat(col("text"),
          lit(" contact: user"), col("doc_id").cast("string"),
          lit("@example.com from 10.0."),
          (col("doc_id") % 256).cast("string"),
          lit(".7 call +14155552671"))).as("scrubbed"))),

    // Vocabulary-coverage / OOV audit against the corpus top-20 vocab
    // (the 31-word synthetic vocabulary leaves 11 words OOV, so rates
    // are meaningful). Exact oracle — deterministic boundary ordering.
    "q197_oov_audit" -> ((s, d) =>
      TextAnalysis.oovAudit(Tables.documents(s, d), vocabSize = 20)
        .orderBy("doc_id")),

    // Shard manifest with integrity checksums: md5-bucketed shards,
    // per-shard doc/token counts and a content hash over the per-doc
    // text md5s in doc_id order. Exact oracle.
    "q198_shard_manifest" -> ((s, d) =>
      TextAnalysis.shardManifest(Tables.documents(s, d), nShards = 16)
        .orderBy("shard")),

    // Corpus version diff: v2 drops every 13th doc, edits every 10th,
    // and adds a renumbered copy of every 17th — the full outer
    // fingerprint join labels each id added/removed/changed/unchanged.
    // Exact oracle.
    "q199_corpus_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val v2 = docs.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 0, concat(col("text"), lit(" edited")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("new "), col("text")).as("text")))
      Dedup.corpusDiff(docs, v2).orderBy("doc_id")
    }),

    // Leakage-safe splits: near-dup clusters (q26 pair graph → q44
    // components) are split by their representative's hash, so a doc
    // and its paraphrase can never straddle train/test. Exact oracle.
    "q196_leakage_safe_splits" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.leakageSafeSplits(s, docs,
          PipelineDedupQueries.docJaccardPairs(s, d))
        .orderBy("doc_id")
    }),

    // CCNet-style boilerplate line stripping over constructed
    // multi-line docs (the q177 planting idiom): line 1 is the unique
    // corpus text (kept), line 2 a shared copyright footer on every
    // even doc (df ≈ N/2 ≥ 10 → stripped everywhere), line 3 a
    // per-doc unique footer on every 3rd doc (df = 1 → kept). Exact
    // oracle — both engines build and strip identical strings.
    "q195_boilerplate_lines" -> ((s, d) => {
      val built = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 2 === 0,
            lit("\ncopyright footer all rights reserved"))
            .otherwise(lit("")),
          when(col("doc_id") % 3 === 0,
            concat(lit("\nunique footer "), col("doc_id").cast("string")))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.stripBoilerplateLines(built, minDocs = 10)
        .orderBy("doc_id")
    }),

    // Length-distribution matching resample: the target slice is the
    // short-doc subset (< 60 tokens), so matching downweights long
    // buckets; the most-underrepresented bucket keeps everything
    // (max-normalized importance weights), md5-threshold Bernoulli
    // keeps the decision replayable. Exact oracle — counts, the
    // division chain, the 2^-32 threshold and every keep bit.
    "q194_length_match" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.lengthMatchResample(docs,
          docs.filter(size(split(col("text"), " ")) < 60),
          bucketWidth = 10)
        .orderBy("doc_id")
    }),

    // Payment-card scrubbing with Luhn VERIFICATION (planted in the
    // query, the q49 idiom): a valid 16-digit Visa and a valid
    // 15-digit Amex are redacted; a 16-digit Luhn-FAILING near-miss
    // and a 10-digit number (card-invalid length) survive — the
    // checksum decision, not just the pattern, is what the oracle
    // replays per token.
    "q190_card_scrub" -> ((s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0, lit(" 4111111111111111"))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit(" 4111111111111112"))
            .otherwise(lit("")),
          when(col("doc_id") % 3 === 0,
            lit(" 1234567890 371449635398431")).otherwise(lit("")))
          .as("text"))
      TextAnalysis.scrubCreditCards(planted)
        .select(col("doc_id"), col("n_cards"), col("scrubbed_cards"))
        .orderBy("doc_id")
    }),

    // Language-balanced deterministic sampling: md5-threshold Bernoulli
    // per stratum — replayable on any topology, oracle-checkable.
    "q50_stratified_sample" -> ((s, d) =>
      TextAnalysis.stratifiedSample(
        Tables.documents(s, d).select("doc_id", "lang"),
        stratumCol = "lang", keyCol = "doc_id",
        fractions = Map("en" -> 0.5, "de" -> 0.25), defaultP = 0.1)),

    // Weighted reservoir sample (Efraimidis–Spirakis): 64 docs drawn
    // proportional to n_chars, deterministic md5 uniforms — the rounded
    // rank key itself is emitted so the oracle checks the full key
    // arithmetic, not just the selected set.
    "q87_weighted_sample" -> ((s, d) =>
      TextAnalysis.weightedSample(
        Tables.documents(s, d).select("doc_id", "n_chars"),
        keyCol = "doc_id", weightCol = "n_chars", k = 64)
        .select(col("doc_id"), col("n_chars"),
          round(col("es_key"), 9).as("w_key"))),

    // Sequence packing: concatenate-and-slice token layout at L=512.
    "q51_pack_sequences" -> ((s, d) =>
      TextAnalysis.packSequences(Tables.documents(s, d), seqLen = 512)),

    // Every payload is a REAL encoded container (PNG / WAV / Y4M) and
    // every row runs the genuine decoder — `decoded` must be all-true.
    // Gopher-style repetition filters: per-doc top-bigram and
    // duplicated-bigram coverage.
    "q57_ngram_repetition" -> ((s, d) =>
      TextAnalysis.ngramRepetition(Tables.documents(s, d), n = 2)),

    // Deterministic corpus shuffle + round-robin shard assignment —
    // the md5 permutation makes the training order itself replayable
    // AND oracle-checkable.
    "q58_shuffle_shards" -> ((s, d) =>
      TextAnalysis.shuffleShards(Tables.documents(s, d), nShards = 8)),

    // Keyword extraction: per-doc top-5 TF-IDF terms. Integer/string
    // output only; the double score lives solely in the window ORDER BY.
    "q59_tfidf_topk" -> ((s, d) =>
      TextAnalysis.tfidfTopK(Tables.documents(s, d), k = 5)),

    // Degenerate-text detector: char-level Shannon entropy, a pure
    // narrow map (no shuffle) — a scan at 100 TB.
    "q60_char_entropy" -> ((s, d) =>
      TextAnalysis.charEntropy(Tables.documents(s, d))),

    // Corpus audit: per-source docs/tokens/vocab/hapax/type-token ratio.
    "q61_lexical_stats" -> ((s, d) =>
      TextAnalysis.lexicalStats(Tables.documents(s, d))),

    // Training-mix construction: per-source token budgets → replayable
    // md5 Bernoulli rates computed in-plan (oracle-checkable even
    // though the rates are data-dependent).
    "q63_mixture_sample" -> ((s, d) =>
      TextAnalysis.mixtureSample(Tables.documents(s, d),
        budgets = Map("src0" -> 700L, "src1" -> 3000L,
          "src2" -> 400L, "src3" -> 900L))),

    // CCNet-shaped LM quality score: per-doc avg negative log-likelihood
    // under the corpus unigram distribution.
    "q64_unigram_nll" -> ((s, d) =>
      TextAnalysis.unigramLogLik(Tables.documents(s, d))),

    // DSIR importance weights targeting the src0 slice: hashed
    // unigram+bigram log-likelihood ratios, replayable md5 buckets.
    "q65_dsir_weights" -> ((s, d) =>
      TextAnalysis.dsirWeights(Tables.documents(s, d),
        targetPred = col("source") === "src0", buckets = 1024)),

    // Tokenize-to-ids: top-20 vocab (the synthetic corpus has ~31
    // distinct terms, so the OOV->0 path is exercised), exploded
    // (doc, pos, token_id) stream.
    "q66_vocab_encode" -> ((s, d) =>
      TextAnalysis.vocabEncode(Tables.documents(s, d), maxVocab = 20)),

    // Corpus length report: exact interpolated p50/p90/p99 per source.
    "q67_length_quantiles" -> ((s, d) =>
      TextAnalysis.lengthQuantiles(Tables.documents(s, d))),

    // BM25 retrieval: top-20 docs for a fixed 3-term query.
    "q70_bm25_topk" -> ((s, d) =>
      TextAnalysis.bm25TopK(Tables.documents(s, d), "spark table join")),

    // Budget-constrained quality curation: keep the best docs per
    // source until the token budget is spent (src0 generous, src1
    // cuts mid-source, src2 zero budget, all other sources absent).
    "q71_quality_budget" -> ((s, d) =>
      TextAnalysis.qualityBudgetSelect(Tables.documents(s, d),
        Map("src0" -> 30000L, "src1" -> 8000L, "src2" -> 0L))),

    // Misra–Gries heavy-hitters audit (k=64) beside the exact term
    // counts: one deterministic invariant row (the q84/q88 pattern) —
    // the sketch's est ≤ f ≤ est + n/(k+1) guarantee and the
    // every-heavy-term-found completeness are checked against the
    // exact aggregate, and either failing flips a boolean the hash
    // compare catches.
    "q98_heavy_hitters" -> ((s, d) =>
      graft.pipeline.Sketches.heavyHittersAudit(s, Tables.documents(s, d), k = 64)),

    // Real-codec decode as an INVARIANT oracle (graduated from
    // rows-only in r6): the synthetic payloads are bit-deterministic
    // per media_id, so the decoded stream properties are closed-form —
    // image/video dims must equal the encoder's metadata, audio must
    // come back 8 kHz mono with a sane amplitude, video must report
    // 25 fps and frames×40 ms == the recorded duration. Every check is
    // a boolean the DuckDB oracle pins TRUE; a decode or parser
    // regression flips one and the hash compare catches it.
    "q34_media_features" -> ((s, d) => {
      val media = Multimodal.syntheticEncodedMedia(Tables.documents(s, d))
      val f = Multimodal.decodeFeatures(s, media, featDim = 16)
      def feat(i: Int) = element_at(col("features"), i)
      f.join(media.select("media_id", "meta_width", "meta_height",
          "meta_duration_ms"), "media_id")
        .select(col("media_id"), col("modality"), col("decoded"),
          when(col("modality") === "audio",
              feat(1) === 8000f && feat(2) === 1f)
            .otherwise(feat(1) === col("meta_width").cast("float") &&
              feat(2) === col("meta_height").cast("float")).as("dims_ok"),
          when(col("modality") === "image", col("meta_duration_ms") === 0)
            .when(col("modality") === "audio",
              col("meta_duration_ms").between(25, 49))
            .otherwise(feat(3) * 40 === col("meta_duration_ms")
              .cast("float") && feat(4) === 25f).as("duration_ok"),
          when(col("modality") === "audio",
              feat(3) > 0f && feat(3) <= 1f && feat(4) >= 0f && feat(4) <= 1f)
            .when(col("modality") === "image",
              feat(3).between(0f, 1f) && feat(4).between(0f, 0.5f))
            .otherwise(feat(5).between(0f, 1f)).as("signal_ok"))
        .orderBy("media_id")
    }),

    // Video frame sampling (q34's decode ladder, per-FRAME): decode
    // each y4m payload and emit every 2nd frame (everyMs=80 at 25
    // fps), then audit per clip. Invariant oracle (the q34 pattern —
    // frame counts are seed-random, so the CONTRACT is checked, not
    // the draw): stride exactly 2 from frame 0, timestamps exactly
    // idx·40 ms, lumas normalized to [0,1], and ⌈frames/2⌉ ∈ {2,3}
    // sampled rows for the 3..6-frame clips. Narrow map over video
    // rows + one media-keyed aggregate.
    "q154_frame_sample" -> ((s, d) => {
      val media = Multimodal.syntheticEncodedMedia(Tables.documents(s, d))
      Multimodal.frameSampleDecoded(s, media, everyMs = 80)
        .groupBy("media_id")
        .agg(count(lit(1)).as("_n"),
          (min(col("frame_idx")) === 0 &&
            max(col("frame_idx")) === (count(lit(1)) - 1) * 2 &&
            sum(pmod(col("frame_idx"), lit(2))) === 0).as("stride_ok"),
          (sum(abs(col("frame_ms") - col("frame_idx") * 40L)) === 0)
            .as("timing_ok"),
          (min(col("luma_mean")) >= 0f && max(col("luma_mean")) <= 1f)
            .as("luma_ok"))
        .select(col("media_id"),
          col("_n").between(2, 3).as("count_ok"),
          col("stride_ok"), col("timing_ok"), col("luma_ok"))
        .orderBy("media_id")
    }),

    // Audio feature extraction audit: decode each WAV payload and pin
    // the PHYSICS of the planted signal — a pure sine at amplitude 0.5
    // has RMS a/√2 ≈ 0.3536 (the Dirichlet-kernel partial-period
    // residual stays under ±0.011 for every (freq, n) the generator
    // draws, so [0.30, 0.41] has 4× headroom), zero-crossing rate
    // ≈ 2f/fs ∈ [0.05, 0.49988] for f ∈ [200, 1999], and every
    // envelope segment RMS sits in [0, 1]. A decode scale/endianness/
    // channel regression moves RMS far outside the band. Invariant
    // oracle; narrow map over audio rows only.
    "q155_audio_features" -> ((s, d) => {
      val media = Multimodal.syntheticEncodedMedia(Tables.documents(s, d))
        .filter(col("modality") === "audio")
      def feat(i: Int) = element_at(col("features"), i)
      Multimodal.decodeFeatures(s, media, featDim = 16)
        .select(col("media_id"), col("decoded"),
          feat(3).between(0.30f, 0.41f).as("rms_ok"),
          feat(4).between(0.04f, 0.51f).as("zcr_ok"),
          expr("forall(slice(features, 5, 12), " +
            "x -> x >= 0F AND x <= 1F)").as("env_ok"))
        .orderBy("media_id")
    }),

    // Corpus memorization audit: the k most frequent bigrams with their
    // occurrence and document frequencies (TakeOrderedAndProject cut).
    "q73_top_ngrams" -> ((s, d) =>
      TextAnalysis.topKNgrams(Tables.documents(s, d), n = 2, k = 25)),

    // PMI collocations: bigrams whose words co-occur beyond chance.
    "q74_pmi_collocations" -> ((s, d) =>
      TextAnalysis.pmiCollocations(Tables.documents(s, d), k = 25, minCount = 5)),

    // One-row Zipf rank-frequency fit over the top-100 terms.
    "q75_zipf_fit" -> ((s, d) =>
      TextAnalysis.zipfFit(Tables.documents(s, d), topV = 100)),

    // Robust per-source length outliers (median/MAD z on token counts).
    "q76_length_outliers" -> ((s, d) =>
      TextAnalysis.lengthOutliers(Tables.documents(s, d), zThresh = 3.0)),

    // Bigram-LM quality score (add-α smoothing) — the word-ORDER-aware
    // upgrade of q64.
    "q78_bigram_nll" -> ((s, d) =>
      TextAnalysis.bigramLogLik(Tables.documents(s, d), alpha = 0.1)),

    // BPE subword tokenize: train 200 merges on the corpus word table,
    // encode every document. The greedy merge loop has no SQL analog,
    // so the oracle checks INVARIANTS the encode must satisfy (the
    // q69/q84/q88 pattern): n_words replayed exactly by DuckDB,
    // n_words ≤ n_pieces ≤ n_chars + n_words (each word yields between
    // 1 and len(word)+1 pieces, </w> included), and the lossless
    // roundtrip — pieces stripped of the </w> sentinel re-concatenate
    // to exactly the original words. A merge-table or encode bug flips
    // a hash-checked boolean. All columns scalar (the r5 checker crash
    // was an array<string> column hitting pandas sort_values).
    // Count-min sketch audit beside the exact counts (q98's CMS
    // sibling): point-query guarantee booleans hash-enforced.
    "q132_countmin" -> ((s, d) =>
      graft.pipeline.Sketches.countMinAudit(s, Tables.documents(s, d),
        depth = 4, width = 1024, topQ = 32)),

    // Character-class / script profile: the encoding audit before
    // language ID. Exact oracle (pure regexp counts).
    "q133_script_profile" -> ((s, d) =>
      TextAnalysis.scriptProfile(Tables.documents(s, d)).orderBy("doc_id")),

    // Fightin'-Words keyness: per-source characteristic terms by
    // Dirichlet log-odds z-score. Exact oracle (aggregates + log
    // arithmetic + per-group top-k).
    "q135_keyness" -> ((s, d) =>
      TextAnalysis.keyness(Tables.documents(s, d), k = 10)
        .orderBy("source", "rn")),

    // Heaps-law vocabulary growth curve + log-log OLS fit (the q75
    // Zipf companion). Exact oracle.
    "q136_vocab_growth" -> ((s, d) =>
      TextAnalysis.vocabGrowth(Tables.documents(s, d)).orderBy("doc_id")),

    // Per-source Gini of the doc-length distribution (downsampling
    // granularity diagnostic). Exact oracle.
    "q137_gini_tokens" -> ((s, d) =>
      TextAnalysis.giniTokens(Tables.documents(s, d)).orderBy("source")),

    // Pairwise source JS divergence over unigram distributions
    // (mixture-design redundancy measure). Exact oracle.
    "q138_js_divergence" -> ((s, d) =>
      TextAnalysis.jsDivergence(Tables.documents(s, d))
        .orderBy("src_a", "src_b")),

    // gzip compressibility proxy (boilerplate/junk filter). gzip bytes
    // are not SQL-replayable → exact n_bytes + pinned bound booleans.
    "q139_compress_ratio" -> ((s, d) =>
      TextAnalysis.compressRatio(Tables.documents(s, d))
        .select(col("doc_id"), col("n_bytes"),
          (col("gz_bytes") > 0 && col("ratio") <= 2.0).as("ratio_ok"),
          (col("gz_bytes") >= 20).as("overhead_floor_ok"))
        .orderBy("doc_id")),

    // Per-source winsorized length stats (p05/p95 clamp — outlier-
    // robust corpus summary). Exact oracle: percentile ≡ quantile_cont
    // on integer-valued doubles.
    "q151_winsorize" -> ((s, d) =>
      TextAnalysis.winsorizedStats(Tables.documents(s, d))
        .orderBy("source")),

    // Per-doc duplicated word-8-gram load (substring-level dup signal,
    // Lee et al. 2022). Exact oracle: identical gram construction.
    "q152_dup_ngrams" -> ((s, d) =>
      Dedup.dupNgramStats(Tables.documents(s, d), n = 8)
        .orderBy("doc_id")),

    // Sparse TF-IDF cosine pairs via inverted-index join (lexical
    // mirror detector). Exact oracle replaying the same weighted
    // posting-list algebra.
    "q153_tfidf_cosine" -> ((s, d) =>
      TextAnalysis.tfidfCosinePairs(Tables.documents(s, d),
          threshold = 0.3, maxDf = 0.25)
        .orderBy("id_a", "id_b")),

    // Pairwise source vocabulary overlap (exact set algebra). Exact
    // oracle.
    "q147_source_overlap" -> ((s, d) =>
      TextAnalysis.sourceOverlap(Tables.documents(s, d))
        .orderBy("src_a", "src_b")),

    // Per-source HLL distinct audit: exact count (oracle-replayed)
    // beside approx_count_distinct with its 3σ accuracy pinned.
    "q148_hll_by_source" -> ((s, d) =>
      TextAnalysis.hllDistinctAudit(Tables.documents(s, d))
        .orderBy("source")),

    // Image resize (area-average → PNG re-encode) with invariant
    // oracle: resized payloads must decode at the requested dims and
    // track the global luma mean within 0.1 — pooling preserves the
    // count-weighted mean exactly, and the unweighted drift from
    // cell imbalance on tiny non-divisible images measures max 0.045
    // at sf0.1 (see resizeEncode doc), so 0.1 has 2× headroom while
    // still catching channel/scale regressions. The q34 pattern on
    // the enumerable image slice.
    "q145_resize" -> ((s, d) => {
      val media = Multimodal.syntheticEncodedMedia(Tables.documents(s, d))
        .filter(col("modality") === "image")
      val orig = Multimodal.decodeFeatures(s, media, featDim = 4)
        .select(col("media_id"), element_at(col("features"), 3).as("mean0"))
      val rs = Multimodal.resizeImages(s, media, outW = 4, outH = 4)
      val dec = Multimodal.decodeFeatures(s, rs, featDim = 4)
        .select(col("media_id"), col("decoded"),
          element_at(col("features"), 1).as("w"),
          element_at(col("features"), 2).as("h"),
          element_at(col("features"), 3).as("mean1"))
      dec.join(orig, "media_id")
        .select(col("media_id"), col("decoded"),
          (col("w") === 4f && col("h") === 4f).as("dims_ok"),
          (abs(col("mean0") - col("mean1")) < 0.1f).as("mean_preserved"))
        .orderBy("media_id")
    }),

    // Per-doc n-gram novelty against the ingest order: the fraction of
    // a document's 5-grams whose FIRST corpus occurrence (by doc_id)
    // is in that document — the "is the stream still contributing new
    // content" curve a continual-ingest pipeline watches (novelty ~1 =
    // fresh, ~0 = the corpus already said this). One gram explode +
    // one gram-keyed min aggregate + a 1:1 join back — the q152 cost
    // envelope with min instead of count. Exact oracle.
    "q173_ngram_novelty" -> ((s, d) => {
      val grams = Tables.documents(s, d)
        .select(col("doc_id"),
          filter(split(col("text"), " "), w => length(w) > 0).as("_ws"))
        .filter(size(col("_ws")) >= 5)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(0, size(_ws) - 5),
            |  i -> array_join(slice(_ws, i + 1, 5), ' '))""".stripMargin))
          .as("gram"))
      val firstSeen = grams.groupBy("gram")
        .agg(min(col("doc_id")).as("_first"))
      grams.join(firstSeen, "gram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("_first") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty",
          round(col("n_novel") / col("n_grams").cast("double"), 6))
        .orderBy("doc_id")
    }),

    // Train/val token-balance audit: the md5 split (q143) should leave
    // unigram distributions statistically indistinguishable — the chi²
    // over the (term × split) grid quantifies it. One term-keyed
    // aggregate + a broadcast totals row; catches both a broken hash
    // and a pathological corpus. Exact oracle (the split predicate is
    // md5-replayable, the q143 contract).
    "q172_split_balance" -> ((s, d) => {
      val terms = Tables.documents(s, d)
        .select(TextAnalysis.splitLabel(col("doc_id")).as("split"),
          explode(filter(split(col("text"), " "), w => length(w) > 0))
            .as("term"))
        .filter(col("split") =!= "test")
      val grid = terms.groupBy("term").agg(
        sum(when(col("split") === "train", 1L).otherwise(0L))
          .cast("double").as("ntr"),
        sum(when(col("split") === "val", 1L).otherwise(0L))
          .cast("double").as("nva"))
      val tot = grid.agg(sum(col("ntr")).as("Ttr"), sum(col("nva")).as("Tva"))
      def e(n: org.apache.spark.sql.Column, t: org.apache.spark.sql.Column) =
        (col("ntr") + col("nva")) * t / (col("Ttr") + col("Tva"))
      grid.crossJoin(broadcast(tot))
        .select(
          (pow(col("ntr") - e(col("ntr"), col("Ttr")), 2) /
            e(col("ntr"), col("Ttr")) +
            pow(col("nva") - e(col("nva"), col("Tva")), 2) /
              e(col("nva"), col("Tva"))).as("_t"),
          col("Ttr"), col("Tva"))
        .agg(count(lit(1)).as("n_terms"),
          round(first(col("Ttr")), 1).as("n_train_tokens"),
          round(first(col("Tva")), 1).as("n_val_tokens"),
          round(sum(col("_t")), 6).as("chi2"))
        .withColumn("dof", col("n_terms") - 1)
    }),

    // Per-source quantile normalization of doc length. Exact oracle.
    "q142_quantile_norm" -> ((s, d) =>
      TextAnalysis.quantileNormalize(Tables.documents(s, d))
        .orderBy("source", "doc_id")),

    // Deterministic 3-way stratified split (80/10/10). Exact oracle.
    "q143_split_assign" -> ((s, d) =>
      TextAnalysis.splitAssign(Tables.documents(s, d).select("doc_id"))
        .orderBy("doc_id")),

    // Unigram-LM (SentencePiece-style) tokenize: train a 1500-piece
    // model by Viterbi-EM on the corpus word table, Viterbi-encode
    // every document. Same invariant-oracle shape as q79: n_words
    // replayed exactly, piece-count bounds (1..len(word) pieces per
    // word), lossless concat roundtrip — plus the model-level
    // guarantee distinct from BPE's: n_pieces ≤ q79's would-be char
    // count because multi-char pieces exist (bounds_ok's upper edge is
    // n_chars, no </w> sentinel inflation).
    "q161_unigram_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = Unigram.train(docs, vocabSize = 1500, maxWords = 5000)
      val words = filter(split(col("text"), " "), w => length(w) > 0)
      val nChars = aggregate(words, lit(0L), (acc, w) => acc + length(w))
      Unigram.encode(docs, model)
        .join(docs.select(col("doc_id"), nChars.as("_n_chars"),
          concat_ws("", words).as("_joined")), "doc_id")
        .select(col("doc_id"), col("n_words"),
          col("n_pieces").between(col("n_words"), col("_n_chars"))
            .as("bounds_ok"),
          (concat_ws("", col("pieces")) === col("_joined"))
            .as("roundtrip_ok"))
        .orderBy("doc_id")
    }),

    "q79_bpe_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = Bpe.train(docs, nMerges = 200, maxWords = 5000)
      val words = filter(split(col("text"), " "), w => length(w) > 0)
      val nChars = aggregate(words, lit(0L), (acc, w) => acc + length(w))
      Bpe.encode(docs, merges)
        .join(docs.select(col("doc_id"), nChars.as("_n_chars"),
          concat_ws("", words).as("_joined")), "doc_id")
        .select(col("doc_id"), col("n_words"),
          (col("n_pieces").between(col("n_words"),
            col("_n_chars") + col("n_words"))).as("bounds_ok"),
          (regexp_replace(concat_ws("", col("pieces")), "</w>", "")
            === col("_joined")).as("roundtrip_ok"))
        .orderBy("doc_id")
    }),
  )

  def oracleSql: Map[String, String] = Map(
    // Full training + scoring replay: same four-script corpus (the
    // SAME alphabet literals via scriptTargets), same Laplace-smoothed
    // char-bigram NB profile on the even half, same floor for unseen
    // grams, same (score DESC, lang) argmax on the held-out half.
    "q218_langid_profile" -> {
      val values = scriptTargets.map { case (idx, lang, target) =>
        s"($idx,'$lang','$target')"
      }.mkString(", ")
      s"""WITH v AS (
         |  SELECT doc_id * 4 + s.idx AS vid, doc_id, s.lang,
         |    translate(lower(text), '$latinAz', s.target) AS text
         |  FROM documents,
         |    (VALUES $values) AS s(idx, lang, target)),
         |tr AS (SELECT * FROM v WHERE doc_id % 2 = 0),
         |te AS (SELECT * FROM v WHERE doc_id % 2 = 1),
         |trg AS (SELECT lang, substr(text, CAST(i AS INT), 2) AS gram
         |  FROM (SELECT lang, text,
         |          unnest(range(1, length(text))) AS i FROM tr)),
         |cnt AS (SELECT lang, gram, count(*) AS c FROM trg GROUP BY 1, 2),
         |tot AS (SELECT lang, sum(c) AS tot FROM cnt GROUP BY 1),
         |voc AS (SELECT count(DISTINCT gram) AS v FROM cnt),
         |prof AS (SELECT lang, gram, ln((c + 1) / (tot + v)) AS logp
         |  FROM cnt JOIN tot USING (lang), voc),
         |flo AS (SELECT lang, ln(1.0 / (tot + v)) AS floor_logp
         |  FROM tot, voc),
         |teg AS (SELECT vid, substr(text, CAST(i AS INT), 2) AS gram
         |  FROM (SELECT vid, text,
         |          unnest(range(1, length(text))) AS i FROM te)),
         |tf AS (SELECT vid, gram, count(*) AS c FROM teg GROUP BY 1, 2),
         |sc AS (SELECT tf.vid, f.lang,
         |    sum(tf.c * coalesce(p.logp, f.floor_logp)) AS score
         |  FROM tf CROSS JOIN flo f
         |  LEFT JOIN prof p ON p.lang = f.lang AND p.gram = tf.gram
         |  GROUP BY 1, 2),
         |pred AS (SELECT vid, lang AS lang_pred,
         |    row_number() OVER (PARTITION BY vid
         |      ORDER BY score DESC, lang) AS rn
         |  FROM sc)
         |SELECT te.vid, te.lang AS lang_true, pred.lang_pred,
         |  pred.lang_pred = te.lang AS correct
         |FROM te JOIN pred ON te.vid = pred.vid AND pred.rn = 1""".stripMargin
    },

    // The same chunk grid: token list, last-start = clamped
    // ceil((n-64)/48), list_slice per start (1-based, end-clamped like
    // Spark's slice), md5 of the re-joined window. Trunc-vs-floor
    // division never diverges: the clamp catches every negative.
    "q107_chunk_overlap" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 1),
        |g AS (SELECT doc_id, toks, n, s.i AS chunk_idx
        |  FROM n, LATERAL (SELECT unnest(generate_series(0,
        |    greatest(0, (n - 64 + 48 - 1) // 48))) AS i) s),
        |c AS (SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  list_slice(toks, chunk_idx * 48 + 1,
        |    least(chunk_idx * 48 + 64, n)) AS chunk FROM g)
        |SELECT doc_id, chunk_idx, CAST(len(chunk) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(chunk, ' ')) AS chunk_md5
        |FROM c""".stripMargin,

    // Identical distinct-set algebra over the (source, term) table.
    "q147_source_overlap" ->
      """WITH st AS (SELECT DISTINCT source, unnest(list_filter(
        |    string_split(text, ' '), w -> len(w) > 0)) AS term
        |  FROM documents),
        |sz AS (SELECT source, count(*) AS n FROM st GROUP BY 1),
        |i AS (SELECT a.source AS src_a, b.source AS src_b,
        |    count(*) AS n_common
        |  FROM st a JOIN st b ON a.term = b.term AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT i.src_a, i.src_b, CAST(na.n AS BIGINT) AS na,
        |  CAST(nb.n AS BIGINT) AS nb, CAST(i.n_common AS BIGINT)
        |    AS n_common,
        |  round(i.n_common / (na.n + nb.n - i.n_common), 6) AS jaccard
        |FROM i JOIN sz na ON i.src_a = na.source
        |  JOIN sz nb ON i.src_b = nb.source""".stripMargin,

    // Exact per-source distinct + the sketch-accuracy boolean pinned.
    "q148_hll_by_source" ->
      """WITH st AS (SELECT DISTINCT source, unnest(list_filter(
        |    string_split(text, ' '), w -> len(w) > 0)) AS term
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_distinct,
        |  TRUE AS hll_ok
        |FROM st GROUP BY 1""".stripMargin,

    // Resize invariant oracle on the enumerable image slice.
    "q145_resize" ->
      """SELECT doc_id AS media_id, TRUE AS decoded, TRUE AS dims_ok,
        |  TRUE AS mean_preserved
        |FROM documents WHERE doc_id % 3 = 0""".stripMargin,

    // Identical unique-ordering percent_rank.
    "q142_quantile_norm" ->
      """WITH pd AS (SELECT source, doc_id,
        |  CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 0))
        |    AS BIGINT) AS n_tok FROM documents)
        |SELECT source, doc_id, n_tok,
        |  round(percent_rank() OVER (
        |    PARTITION BY source ORDER BY n_tok ASC, doc_id ASC), 6) AS qnorm
        |FROM pd""".stripMargin,

    // Identical md5 thresholds: 0.8·2³² = cccccccc, 0.9·2³² = e6666666.
    "q143_split_assign" ->
      """SELECT doc_id,
        |  CASE WHEN md5('split:42:' || CAST(doc_id AS VARCHAR)) < 'cccccccc'
        |    THEN 'train'
        |  WHEN md5('split:42:' || CAST(doc_id AS VARCHAR)) < 'e6666666'
        |    THEN 'val'
        |  ELSE 'test' END AS split
        |FROM documents""".stripMargin,

    // Identical rank-weighted Gini arithmetic (ties broken by doc_id).
    "q137_gini_tokens" ->
      """WITH pd AS (SELECT source, doc_id,
        |  CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 0))
        |    AS BIGINT) AS n_tok FROM documents),
        |r AS (SELECT source, n_tok, CAST(row_number() OVER (
        |  PARTITION BY source ORDER BY n_tok ASC, doc_id ASC) AS BIGINT)
        |  AS i FROM pd)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |  round(2.0 * sum(i * n_tok) / (count(*) * sum(n_tok))
        |    - (count(*) + 1.0) / count(*), 6) AS gini
        |FROM r GROUP BY 1""".stripMargin,

    // Identical pair×vocab grid and 0·ln0 guards.
    "q138_js_divergence" ->
      """WITH t AS (SELECT source, unnest(list_filter(string_split(text, ' '),
        |    w -> len(w) > 0)) AS term FROM documents),
        |c AS (SELECT source, term, count(*) AS cnt FROM t GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM c
        |  GROUP BY 1),
        |p AS (SELECT c.source, c.term, c.cnt / tot.n AS p FROM c
        |  JOIN tot USING (source)),
        |pairs AS (SELECT a.source AS src_a, b.source AS src_b
        |  FROM (SELECT source FROM tot) a, (SELECT source FROM tot) b
        |  WHERE a.source < b.source),
        |vocab AS (SELECT DISTINCT term FROM c),
        |grid AS (SELECT pr.src_a, pr.src_b,
        |  coalesce(pa.p, 0) AS pa, coalesce(pb.p, 0) AS pb
        |  FROM pairs pr CROSS JOIN vocab v
        |  LEFT JOIN p pa ON pa.source = pr.src_a AND pa.term = v.term
        |  LEFT JOIN p pb ON pb.source = pr.src_b AND pb.term = v.term
        |  WHERE coalesce(pa.p, 0) + coalesce(pb.p, 0) > 0)
        |SELECT src_a, src_b,
        |  round(sum(
        |    CASE WHEN pa > 0 THEN 0.5 * pa * ln(pa / ((pa + pb) / 2))
        |      ELSE 0 END +
        |    CASE WHEN pb > 0 THEN 0.5 * pb * ln(pb / ((pa + pb) / 2))
        |      ELSE 0 END), 6) AS jsd,
        |  CAST(count(*) AS BIGINT) AS n_terms_union
        |FROM grid GROUP BY 1, 2""".stripMargin,

    // Identical word-8-gram slide and corpus-wide count join; docs
    // shorter than 8 words drop out of both engines by construction.
    "q152_dup_ngrams" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    array_to_string(list_slice(ws, i.i + 1, i.i + 8), ' ') AS gram
        |  FROM w, LATERAL (SELECT unnest(range(0, len(ws) - 7)) AS i) i),
        |c AS (SELECT gram, count(*) AS cnt FROM g GROUP BY 1)
        |SELECT doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_grams,
        |  round(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE), 6) AS dup_fraction
        |FROM g JOIN c USING (gram) GROUP BY 1""".stripMargin,

    // Identical df-capped TF-IDF space: smooth idf, norms over the
    // capped vocabulary, dot via the term-keyed posting join.
    "q153_tfidf_cosine" ->
      """WITH t AS (SELECT doc_id AS id,
        |    unnest(list_filter(string_split(text, ' '), x -> len(x) > 0))
        |      AS term
        |  FROM documents),
        |tf AS (SELECT id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1
        |        HAVING count(*) <=
        |          least(0.25 * (SELECT n FROM nd), 1000.0)),
        |w AS (SELECT id, tf.term,
        |    tf.tf * (ln((nd.n + 1.0) / (dfq.df + 1.0)) + 1.0) AS w
        |  FROM tf JOIN dfq USING (term), nd),
        |nm AS (SELECT id, sqrt(sum(w * w)) AS norm FROM w GROUP BY 1),
        |d AS (SELECT a.id AS id_a, b.id AS id_b, sum(a.w * b.w) AS dot
        |  FROM w a JOIN w b ON a.term = b.term AND a.id < b.id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  round(dot / (na.norm * nb.norm), 6) AS cosine
        |FROM d JOIN nm na ON d.id_a = na.id JOIN nm nb ON d.id_b = nb.id
        |WHERE dot / (na.norm * nb.norm) >= 0.3""".stripMargin,

    // Identical clamp-at-quantile arithmetic; quantile_cont matches
    // Spark's exact percentile (linear interpolation at p·(n−1)).
    "q151_winsorize" ->
      """WITH v AS (SELECT source AS grp, CAST(n_chars AS DOUBLE) AS v
        |  FROM documents),
        |q AS (SELECT grp, quantile_cont(v, 0.05) AS plo,
        |    quantile_cont(v, 0.95) AS phi
        |  FROM v GROUP BY 1)
        |SELECT grp AS source, count(*) AS n_rows,
        |  round(plo, 6) AS p_lo, round(phi, 6) AS p_hi,
        |  round(avg(v), 6) AS mean_raw,
        |  round(avg(greatest(plo, least(phi, v))), 6) AS mean_winsorized
        |FROM v JOIN q USING (grp) GROUP BY grp, plo, phi""".stripMargin,

    // gzip invariant oracle: exact byte counts, bound booleans pinned.
    "q139_compress_ratio" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT)
        |    AS n_bytes,
        |  TRUE AS ratio_ok, TRUE AS overhead_floor_ok
        |FROM documents WHERE octet_length(encode(text)) >= 1""".stripMargin,

    // CMS audit: exact scalars recomputed, guarantee booleans pinned.
    "q132_countmin" ->
      """WITH t AS (SELECT unnest(list_filter(string_split(text, ' '),
        |    w -> len(w) > 0)) AS term FROM documents),
        |a AS (SELECT term, count(*) AS cnt FROM t GROUP BY 1)
        |SELECT CAST(sum(cnt) AS BIGINT) AS n_total,
        |  CAST(count(*) AS BIGINT) AS n_terms,
        |  CAST(least(32, count(*)) AS BIGINT) AS n_checked,
        |  TRUE AS no_underestimate, TRUE AS overcount_ok
        |FROM a""".stripMargin,

    // Identical ASCII character-class regexp counts and ratio
    // arithmetic.
    "q133_script_profile" ->
      """WITH c AS (SELECT doc_id, CAST(len(text) AS BIGINT) AS n_chars,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT)
        |    AS n_letter,
        |  CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
        |  CAST(len(regexp_extract_all(text, '[ \t\n\r]')) AS BIGINT)
        |    AS n_space
        |  FROM documents WHERE len(text) >= 1)
        |SELECT doc_id, n_chars, n_letter, n_digit, n_space,
        |  n_chars - n_letter - n_digit - n_space AS n_other,
        |  round(n_letter / n_chars, 6) AS r_letter,
        |  round(n_digit / n_chars, 6) AS r_digit,
        |  n_letter * 2 > n_chars AS mostly_alpha
        |FROM c""".stripMargin,

    // Identical Dirichlet log-odds z arithmetic and per-source top-k.
    "q135_keyness" ->
      """WITH t AS (SELECT source, unnest(list_filter(string_split(text, ' '),
        |    w -> len(w) > 0)) AS term FROM documents),
        |bs AS (SELECT source, term, count(*) AS f_s FROM t GROUP BY 1, 2),
        |bt AS (SELECT term, CAST(sum(f_s) AS BIGINT) AS f_tot FROM bs
        |  GROUP BY 1),
        |tot AS (SELECT source, CAST(sum(f_s) AS BIGINT) AS n_s FROM bs
        |  GROUP BY 1),
        |g AS (SELECT CAST((SELECT sum(n_s) FROM tot) AS BIGINT) AS n_tot,
        |  (SELECT count(*) FROM bt) AS vocab),
        |sc AS (SELECT bs.source, bs.term, bs.f_s,
        |  round((ln((bs.f_s + 0.5) / (tot.n_s + 0.5 * g.vocab - bs.f_s - 0.5))
        |    - ln(((bt.f_tot - bs.f_s) + 0.5)
        |      / ((g.n_tot - tot.n_s) + 0.5 * g.vocab
        |        - (bt.f_tot - bs.f_s) - 0.5)))
        |    / sqrt(1.0 / (bs.f_s + 0.5) + 1.0 / ((bt.f_tot - bs.f_s) + 0.5)),
        |    6) AS z
        |  FROM bs JOIN tot USING (source) JOIN bt USING (term), g)
        |SELECT source, term, f_s, z, rn FROM (
        |  SELECT source, term, f_s, z, row_number() OVER (
        |    PARTITION BY source ORDER BY z DESC, term) AS rn FROM sc)
        |WHERE rn <= 10""".stripMargin,

    // Identical prefix sums and CENTERED two-pass OLS fit in log-log
    // space (the raw-moment form cancelled catastrophically at the
    // 50k-doc scale point — see vocabGrowth).
    "q136_vocab_growth" ->
      """WITH t AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
        |    w -> len(w) > 0)) AS term FROM documents),
        |pd AS (SELECT doc_id, count(*) AS n_tok FROM t GROUP BY 1),
        |fd AS (SELECT doc_id, count(*) AS n_new FROM (
        |  SELECT term, min(doc_id) AS doc_id FROM t GROUP BY 1) GROUP BY 1),
        |c AS (SELECT pd.doc_id,
        |  CAST(sum(pd.n_tok) OVER (ORDER BY pd.doc_id) AS BIGINT)
        |    AS cum_tokens,
        |  CAST(sum(coalesce(fd.n_new, 0)) OVER (ORDER BY pd.doc_id) AS BIGINT)
        |    AS cum_vocab
        |  FROM pd LEFT JOIN fd USING (doc_id)),
        |xy AS (SELECT ln(cum_tokens) AS x, ln(cum_vocab) AS y FROM c
        |  WHERE cum_tokens > 0 AND cum_vocab > 0),
        |m AS (SELECT avg(x) AS mx, avg(y) AS my FROM xy),
        |f AS (SELECT sum((x - mx) * (y - my)) AS sxy,
        |  sum((x - mx) * (x - mx)) AS sxx,
        |  first(mx) AS mx, first(my) AS my FROM xy, m),
        |b AS (SELECT sxy / sxx AS beta, mx, my FROM f)
        |SELECT c.doc_id, c.cum_tokens, c.cum_vocab,
        |  round(b.beta, 6) AS heaps_beta,
        |  round(exp(b.my - b.beta * b.mx), 6) AS heaps_k
        |FROM c, b""".stripMargin,

    // BPE invariant oracle: n_words replayed exactly; the bounds and
    // roundtrip booleans are computed Spark-side from the actual encode
    // and must all be TRUE — a false anywhere hash-mismatches.
    "q79_bpe_encode" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 0))
        |    AS BIGINT) AS n_words,
        |  TRUE AS bounds_ok, TRUE AS roundtrip_ok
        |FROM documents""".stripMargin,

    // Same invariant shape for the unigram tokenizer (q79 pattern).
    "q161_unigram_encode" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 0))
        |    AS BIGINT) AS n_words,
        |  TRUE AS bounds_ok, TRUE AS roundtrip_ok
        |FROM documents""".stripMargin,

    // Media-decode invariant oracle: modality is doc_id%3 by
    // construction; every synthetic payload must decode through the
    // real codec path (PNG via javax.imageio, WAV via javax.sound,
    // Y4M via the y4m parser), and the decoded stream properties must
    // equal the metadata the encoder recorded — dims for image/video,
    // 8 kHz mono + amplitude bound for audio, 25 fps × 40 ms frames
    // for video. Each property is a Spark-side boolean the oracle
    // pins TRUE.
    // Frame-sampling contract booleans for the video third of the
    // corpus (counts are seed-random → invariant oracle, q34 pattern).
    "q154_frame_sample" ->
      """SELECT doc_id AS media_id, TRUE AS count_ok, TRUE AS stride_ok,
        |  TRUE AS timing_ok, TRUE AS luma_ok
        |FROM documents WHERE doc_id % 3 = 2""".stripMargin,

    // Audio physics booleans for the audio third (sine RMS/ZCR bands).
    "q155_audio_features" ->
      """SELECT doc_id AS media_id, TRUE AS decoded, TRUE AS rms_ok,
        |  TRUE AS zcr_ok, TRUE AS env_ok
        |FROM documents WHERE doc_id % 3 = 1""".stripMargin,

    "q34_media_features" ->
      """SELECT doc_id AS media_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |    WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |  TRUE AS decoded, TRUE AS dims_ok, TRUE AS duration_ok,
        |  TRUE AS signal_ok
        |FROM documents""".stripMargin,

    // The identical per-word regexp counts (syllables clamped ≥1 PER
    // WORD, matching TextAnalysis.readability) and the identical
    // left-assoc double expression tree.
    "q127_readability" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(text, ' '), w -> len(w) > 0))
        |      AS n_words,
        |    greatest(1, len(list_filter(
        |      regexp_split_to_array(text, '[.!?]+'), s -> len(trim(s)) > 0)))
        |      AS n_sentences,
        |    coalesce(list_sum(list_transform(
        |      list_filter(string_split(text, ' '), w -> len(w) > 0),
        |      w -> greatest(1, len(regexp_extract_all(lower(w),
        |        '[aeiouy]+'))))), 0) AS syl
        |  FROM documents)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  CAST(n_sentences AS BIGINT) AS n_sentences,
        |  CAST(syl AS BIGINT) AS n_syllables,
        |  round(206.835 - 1.015 * (n_words / n_sentences)
        |    - 84.6 * (syl / n_words), 6) AS flesch
        |FROM c WHERE n_words >= 1""".stripMargin,

    "q120_group_sample" ->
      """SELECT source, doc_id, rn FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5('gs:' || doc_id), doc_id) AS rn
        |  FROM documents) WHERE rn <= 25""".stripMargin,

    // Identical 5-gram slide + first-occurrence min join.
    "q173_ngram_novelty" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    array_to_string(list_slice(ws, i.i + 1, i.i + 5), ' ') AS gram
        |  FROM w, LATERAL (SELECT unnest(range(0, len(ws) - 4)) AS i) i),
        |f AS (SELECT gram, min(doc_id) AS first FROM g GROUP BY 1)
        |SELECT doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN f.first = g.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  round(sum(CASE WHEN f.first = g.doc_id THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE), 6) AS novelty
        |FROM g JOIN f USING (gram) GROUP BY 1""".stripMargin,

    // The q143 md5 split predicate + the q119 chi² arithmetic over the
    // (term × split) grid.
    "q172_split_balance" ->
      """WITH t AS (
        |  SELECT CASE
        |      WHEN md5('split:42:' || CAST(doc_id AS VARCHAR))
        |        < 'cccccccc' THEN 'train'
        |      WHEN md5('split:42:' || CAST(doc_id AS VARCHAR))
        |        < 'e6666666' THEN 'val'
        |      ELSE 'test' END AS split,
        |    unnest(list_filter(string_split(text, ' '),
        |      w -> len(w) > 0)) AS term
        |  FROM documents),
        |g AS (
        |  SELECT term,
        |    CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS ntr,
        |    CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS nva
        |  FROM t WHERE split <> 'test' GROUP BY 1),
        |tt AS (SELECT sum(ntr) AS Ttr, sum(nva) AS Tva FROM g)
        |SELECT count(*) AS n_terms,
        |  round(first(Ttr), 1) AS n_train_tokens,
        |  round(first(Tva), 1) AS n_val_tokens,
        |  round(sum(
        |    pow(ntr - (ntr + nva) * Ttr / (Ttr + Tva), 2)
        |      / ((ntr + nva) * Ttr / (Ttr + Tva))
        |    + pow(nva - (ntr + nva) * Tva / (Ttr + Tva), 2)
        |      / ((ntr + nva) * Tva / (Ttr + Tva))), 6) AS chi2,
        |  count(*) - 1 AS dof
        |FROM g, tt""".stripMargin,

    // Identical planted-line construction + rule algebra in DuckDB.
    "q177_c4_clean" ->
      """WITH t AS (SELECT doc_id, text || '.' || chr(10) ||
        |    CASE WHEN doc_id % 7 = 0 THEN 'buy now lorem ipsum'
        |      ELSE 'buy now click here' END || chr(10) ||
        |    'Enable JavaScript and cookies to continue.' || chr(10) ||
        |    'too short.' AS text
        |  FROM documents),
        |c AS (SELECT doc_id, text,
        |  (contains(lower(text), 'lorem ipsum') OR contains(text, '{'))
        |    AS doc_dropped,
        |  string_split(text, chr(10)) AS ls FROM t),
        |k AS (SELECT doc_id, doc_dropped,
        |  CAST(len(ls) AS BIGINT) AS n_lines,
        |  list_filter(ls, l -> regexp_matches(l, '[.!?"]$')
        |    AND len(list_filter(string_split(l, ' '), w -> len(w) > 0)) >= 3
        |    AND NOT contains(lower(l), 'javascript')
        |    AND NOT contains(lower(l), 'cookie')) AS kept
        |  FROM c)
        |SELECT doc_id, n_lines,
        |  CASE WHEN doc_dropped THEN 0
        |    ELSE CAST(len(kept) AS BIGINT) END AS n_kept,
        |  CASE WHEN doc_dropped THEN ''
        |    ELSE array_to_string(kept, chr(10)) END AS cleaned,
        |  doc_dropped
        |FROM k""".stripMargin,

    // q64's NLL machinery + the same source-partitioned tertile cut.
    "q180_ccnet_buckets" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS c FROM tok
        |  WHERE term <> '' GROUP BY 1, 2),
        |gf AS (SELECT term, sum(c) AS g FROM tf GROUP BY 1),
        |tot AS (SELECT sum(g) AS t FROM gf),
        |nll AS (SELECT tf.doc_id,
        |    round(-sum(tf.c * ln(gf.g / tot.t)) / sum(tf.c), 6) AS avg_nll
        |  FROM tf JOIN gf USING (term), tot GROUP BY 1),
        |j AS (SELECT d.doc_id, d.source, nll.avg_nll,
        |    ntile(3) OVER (PARTITION BY d.source
        |      ORDER BY nll.avg_nll, d.doc_id) AS nt
        |  FROM documents d JOIN nll ON d.doc_id = nll.doc_id)
        |SELECT doc_id, source, avg_nll,
        |  CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
        |    ELSE 'tail' END AS bucket
        |FROM j""".stripMargin,

    // Identical planted mess + the same lowercase/whitespace/punct
    // collapse chain (expanded per char — RE2 has no backreferences);
    // idempotence recomputed on the normalized output.
    "q186_normalize_text" ->
      """WITH t AS (SELECT doc_id, '  MiXeD' || chr(9) || 'CASE  ' ||
        |    text || CASE WHEN doc_id % 4 = 0 THEN ' Wow!!!  Really??'
        |      ELSE chr(10) || 'new  line,,, end.' END AS text
        |  FROM documents),
        |n AS (SELECT doc_id, text, trim(
        |    regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(lower(text),
        |      '[ ' || chr(9) || chr(10) || ']+', ' ', 'g'),
        |      '\.{2,}', '.', 'g'), '!{2,}', '!', 'g'),
        |      '\?{2,}', '?', 'g'), ',{2,}', ',', 'g'),
        |      ';{2,}', ';', 'g'), ':{2,}', ':', 'g')) AS normalized
        |  FROM t)
        |SELECT doc_id, normalized, text <> normalized AS changed,
        |  trim(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(lower(normalized),
        |      '[ ' || chr(9) || chr(10) || ']+', ' ', 'g'),
        |      '\.{2,}', '.', 'g'), '!{2,}', '!', 'g'),
        |      '\?{2,}', '?', 'g'), ',{2,}', ',', 'g'),
        |      ';{2,}', ';', 'g'), ':{2,}', ':', 'g')) = normalized
        |    AS idempotent
        |FROM n""".stripMargin,

    // Per-language p^α weights — count, share, normalized weight,
    // oversample factor, expected docs; same rounding points as Spark.
    "q182_temperature_sampling" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents
        |  GROUP BY 1),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM c),
        |p AS (SELECT lang, n_docs, n_docs / CAST(t.n AS DOUBLE) AS p,
        |    pow(n_docs / CAST(t.n AS DOUBLE), 0.3) AS pa FROM c, t),
        |s AS (SELECT sum(pa) AS spa FROM p)
        |SELECT lang, n_docs, round(p, 6) AS p,
        |  round(pa / s.spa, 6) AS weight,
        |  round(pa / s.spa / p, 6) AS oversample,
        |  round(pa / s.spa * 10000, 6) AS expected_docs
        |FROM p, s""".stripMargin,

    // q64's NLL machinery → per-source mean (rounded BEFORE the
    // softmax in both engines) → exp/normalize with max-subtraction.
    "q183_domain_mix_weights" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' '))
        |    AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS c FROM tok
        |  WHERE term <> '' GROUP BY 1, 2),
        |gf AS (SELECT term, sum(c) AS g FROM tf GROUP BY 1),
        |tot AS (SELECT sum(g) AS t FROM gf),
        |nll AS (SELECT tf.doc_id,
        |    round(-sum(tf.c * ln(gf.g / tot.t)) / sum(tf.c), 6)
        |      AS avg_nll
        |  FROM tf JOIN gf USING (term), tot GROUP BY 1),
        |b AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |    round(avg(nll.avg_nll), 6) AS avg_nll
        |  FROM documents d JOIN nll ON d.doc_id = nll.doc_id
        |  GROUP BY 1),
        |t2 AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
        |    max(avg_nll) AS max_nll FROM b),
        |e AS (SELECT b.source, b.n_docs, b.avg_nll,
        |    b.n_docs / CAST(t2.n_total AS DOUBLE) AS p,
        |    exp((b.avg_nll - t2.max_nll) * 1.0) AS ev FROM b, t2),
        |s AS (SELECT sum(ev) AS se FROM e)
        |SELECT source, n_docs, avg_nll, round(ev / s.se, 6) AS weight,
        |  round(ev / s.se / p, 6) AS upweight
        |FROM e, s""".stripMargin,

    // Identical planted construction + integer rule algebra in DuckDB.
    "q181_gopher_rules" ->
      """WITH t AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0 THEN chr(10) || '• promo item' ||
        |        chr(10) || 'read more...' || chr(10) || 'click here...'
        |      WHEN doc_id % 7 = 0 THEN ' ## ## ##'
        |      ELSE chr(10) || 'the end of that story and with more'
        |    END AS text FROM documents),
        |f AS (SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(text, '[ \n]'),
        |      w -> len(w) > 0) AS ws,
        |    string_split(text, chr(10)) AS ls,
        |    CAST(len(text) - len(replace(text, '#', '')) AS BIGINT)
        |      AS n_hash,
        |    CAST((len(text) - len(replace(text, '...', ''))) // 3
        |      AS BIGINT) AS n_ell
        |  FROM t),
        |g AS (SELECT doc_id,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(len(ls) AS BIGINT) AS n_lines,
        |    CAST(list_sum(list_transform(ws, w -> len(w))) AS BIGINT)
        |      AS sum_len,
        |    n_hash, n_ell,
        |    CAST(len(list_filter(ls, l -> regexp_matches(l, '^[•\-*]')))
        |      AS BIGINT) AS n_bullet,
        |    CAST(len(list_filter(ls, l -> regexp_matches(l, '\.\.\.$')))
        |      AS BIGINT) AS n_ell_line,
        |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]')))
        |      AS BIGINT) AS n_alpha,
        |    CAST(CAST(list_contains(ws, 'the') AS INT)
        |      + CAST(list_contains(ws, 'be') AS INT)
        |      + CAST(list_contains(ws, 'to') AS INT)
        |      + CAST(list_contains(ws, 'of') AS INT)
        |      + CAST(list_contains(ws, 'and') AS INT)
        |      + CAST(list_contains(ws, 'that') AS INT)
        |      + CAST(list_contains(ws, 'have') AS INT)
        |      + CAST(list_contains(ws, 'with') AS INT) AS BIGINT)
        |      AS n_stopwords
        |  FROM f)
        |SELECT doc_id, n_words, n_lines,
        |  round(sum_len / CAST(n_words AS DOUBLE), 6) AS mean_word_len,
        |  round((n_hash + n_ell) / CAST(n_words AS DOUBLE), 6)
        |    AS symbol_ratio,
        |  n_stopwords,
        |  n_words >= 5 AND n_words <= 100000 AS words_ok,
        |  sum_len >= 3 * n_words AND sum_len <= 10 * n_words
        |    AS word_len_ok,
        |  (n_hash + n_ell) * 10 <= n_words AS symbol_ok,
        |  n_bullet * 10 <= n_lines * 9 AS bullet_ok,
        |  n_ell_line * 10 <= n_lines * 3 AS ellipsis_ok,
        |  n_alpha * 10 >= n_words * 8 AS alpha_ok,
        |  n_stopwords >= 2 AS stop_ok,
        |  (n_words >= 5 AND n_words <= 100000)
        |    AND (sum_len >= 3 * n_words AND sum_len <= 10 * n_words)
        |    AND ((n_hash + n_ell) * 10 <= n_words)
        |    AND (n_bullet * 10 <= n_lines * 9)
        |    AND (n_ell_line * 10 <= n_lines * 3)
        |    AND (n_alpha * 10 >= n_words * 8)
        |    AND (n_stopwords >= 2) AS gopher_keep
        |FROM g""".stripMargin,

    // Classifier training-contract oracle: one row per doc, pinned.
    "q178_quality_classifier" ->
      """SELECT doc_id, TRUE AS score_range_ok, TRUE AS loss_improved,
        |  TRUE AS auc_ok
        |FROM documents""".stripMargin,

    // Full bootstrap replay: md5 uniforms → Poisson(1) weights →
    // weighted average-tie ranks per resample → weighted Pearson over
    // ranks → order-statistic cut at rn 6/196 (= bootstrapCi's
    // floor(alpha/2*B)+1 and floor((1-alpha/2)*B)+1 for B=200). All
    // rank/moment sums are exact half/quarter-integer arithmetic, so
    // both engines agree bit-for-bit before the 6-dp round.
    "q188_bootstrap_ci" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS xv,
        |    CAST(n_chars AS DOUBLE) AS yv
        |  FROM documents),
        |u AS (
        |  SELECT CAST(i.range AS INTEGER) AS i, b.xv, b.yv,
        |    (CAST('0x' || substr(md5('42:' || b.doc_id || ':' || i.range),
        |       1, 13) AS BIGINT) + 1) / 4503599627370496.0 AS u
        |  FROM base b CROSS JOIN range(200) i),
        |w AS (
        |  SELECT i, xv, yv,
        |    CASE WHEN u < 0.3678794411714423 THEN 0
        |         WHEN u < 0.7357588823428846 THEN 1
        |         WHEN u < 0.9196986029286058 THEN 2
        |         WHEN u < 0.9810118431238462 THEN 3
        |         WHEN u < 0.9963401531726563 THEN 4
        |         WHEN u < 0.9994058151824183 THEN 5
        |         WHEN u < 0.9999167588507119 THEN 6
        |         ELSE 7 END AS w
        |  FROM u),
        |wf AS (SELECT * FROM w WHERE w > 0),
        |rxg AS (SELECT i, xv, sum(w) AS cw FROM wf GROUP BY 1, 2),
        |rxr AS (SELECT i, xv,
        |    sum(cw) OVER (PARTITION BY i ORDER BY xv) - (cw - 1) / 2.0 AS rx
        |  FROM rxg),
        |ryg AS (SELECT i, yv, sum(w) AS cw FROM wf GROUP BY 1, 2),
        |ryr AS (SELECT i, yv,
        |    sum(cw) OVER (PARTITION BY i ORDER BY yv) - (cw - 1) / 2.0 AS ry
        |  FROM ryg),
        |j AS (
        |  SELECT wf.i, wf.w, rxr.rx, ryr.ry
        |  FROM wf
        |  JOIN rxr ON wf.i = rxr.i AND wf.xv = rxr.xv
        |  JOIN ryr ON wf.i = ryr.i AND wf.yv = ryr.yv),
        |rho AS (
        |  SELECT i,
        |    round((sum(w) * sum(w * rx * ry) - sum(w * rx) * sum(w * ry)) /
        |      sqrt((sum(w) * sum(w * rx * rx) - sum(w * rx) * sum(w * rx)) *
        |           (sum(w) * sum(w * ry * ry) - sum(w * ry) * sum(w * ry))),
        |      6) AS rho
        |  FROM j GROUP BY i),
        |cut AS (
        |  SELECT min(rho) AS ci_lo, max(rho) AS ci_hi FROM (
        |    SELECT rho, row_number() OVER (ORDER BY rho, i) AS rn FROM rho)
        |  WHERE rn IN (6, 196))
        |SELECT r.i, r.rho, c.ci_lo, c.ci_hi
        |FROM rho r CROSS JOIN cut c ORDER BY r.i""".stripMargin,

    "q31_text_quality" ->
      """WITH f AS (SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_words,
        |  round(length(replace(text, ' ', '')) * 1.0 /
        |    greatest(len(string_split(text, ' ')), 1), 6) AS mean_word_len,
        |  round(len(regexp_extract_all(text, '[^\w\s]')) * 1.0 /
        |    greatest(length(text), 1), 6) AS punct_ratio,
        |  round(len(list_filter(string_split(lower(text), ' '),
        |    x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], x)))
        |    * 1.0 / greatest(len(string_split(lower(text), ' ')), 1), 6) AS stopword_ratio,
        |  round(1.0 - len(list_distinct(string_split(text, ' '))) * 1.0 /
        |    greatest(len(string_split(text, ' ')), 1), 6) AS repetition
        |FROM documents)
        |SELECT doc_id, n_words, mean_word_len, punct_ratio, stopword_ratio,
        |  repetition,
        |  (n_words >= 5 AND punct_ratio < 0.1931 AND repetition < 0.5931) AS keep
        |FROM f""".stripMargin,

    "q32_langid" ->
      """WITH r AS (SELECT doc_id,
        |  len(list_filter(string_split(lower(text),' '), x -> list_contains(
        |    ['the','a','of','and','to','in','is','it','that','for'], x))) * 1.0
        |    / greatest(len(string_split(lower(text),' ')), 1) AS en,
        |  len(list_filter(string_split(lower(text),' '), x -> list_contains(
        |    ['der','die','das','und','ist','ein','nicht','mit','zu','den'], x))) * 1.0
        |    / greatest(len(string_split(lower(text),' ')), 1) AS de,
        |  len(list_filter(string_split(lower(text),' '), x -> list_contains(
        |    ['le','la','les','et','est','un','une','pas','pour','que'], x))) * 1.0
        |    / greatest(len(string_split(lower(text),' ')), 1) AS fr
        |FROM documents)
        |SELECT doc_id, CASE WHEN greatest(en, de, fr) = 0.0 THEN 'und'
        |  WHEN en >= de AND en >= fr THEN 'en'
        |  WHEN de >= fr THEN 'de' ELSE 'fr' END AS lang_pred FROM r""".stripMargin,

    "q33_token_counts" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_words,
        |  len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_tokens
        |FROM documents""".stripMargin,

    "q49_pii_scrub" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    text || ' contact: user' || CAST(doc_id AS VARCHAR) ||
        |      '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
        |      '.7 call +14155552671',
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+\d{7,15}', '<PHONE>', 'g') AS scrubbed
        |FROM documents""".stripMargin,

    // Top-V vocab with deterministic boundary ordering, left-join OOV
    // rollup.
    "q197_oov_audit" ->
      """WITH wt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |top AS (SELECT w FROM (SELECT w, count(*) AS c FROM wt GROUP BY 1
        |  ORDER BY c DESC, w LIMIT 20)),
        |per AS (SELECT wt.doc_id, count(*) AS n_words,
        |    CAST(sum(CASE WHEN t.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_oov
        |  FROM wt LEFT JOIN top t USING (w) GROUP BY 1)
        |SELECT doc_id, n_words, n_oov,
        |  round(n_oov * 1.0 / n_words, 6) AS oov_rate FROM per""".stripMargin,

    // md5 shard bucketing + ordered per-shard content hash.
    "q198_shard_manifest" ->
      """WITH s AS (SELECT doc_id, text,
        |    CAST('0x' || substr(md5('42:' || doc_id), 1, 8) AS BIGINT) % 16
        |      AS shard
        |  FROM documents)
        |SELECT CAST(shard AS INTEGER) AS shard, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  md5(string_agg(md5(text), '' ORDER BY doc_id)) AS content_hash
        |FROM s GROUP BY 1""".stripMargin,

    // Fingerprint full-outer join over the same planted v2.
    "q199_corpus_diff" ->
      """WITH v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN text || ' edited' ELSE text END
        |      AS text
        |  FROM documents WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, 'new ' || text AS text
        |  FROM documents WHERE doc_id % 17 = 0),
        |a AS (SELECT doc_id, md5(text) AS h1 FROM documents),
        |b AS (SELECT doc_id, md5(text) AS h2 FROM v2)
        |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN a.doc_id IS NULL THEN 'added'
        |       WHEN b.doc_id IS NULL THEN 'removed'
        |       WHEN a.h1 = b.h2 THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id""".stripMargin,

    // q44's recursive-CTE connected components + q143's md5 threshold
    // algebra, keyed on the cluster representative.
    "q196_leakage_safe_splits" ->
      """WITH RECURSIVE
        |d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t)-1),
        |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM d),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |  FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b
        |  FROM inter JOIN sz na ON na.doc_id = id_a
        |  JOIN sz nb ON nb.doc_id = id_b
        |  WHERE c * 1.0 / (na.n + nb.n - c) >= 0.10),
        |e AS (SELECT id_a AS a, id_b AS b FROM pairs
        |      UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        |nodes AS (SELECT DISTINCT a AS id FROM e),
        |cl AS (SELECT n.id AS doc_id, least(n.id, min(r.b)) AS keep_id
        |  FROM nodes n JOIN reach r ON r.a = n.id GROUP BY n.id),
        |g AS (SELECT dd.doc_id, coalesce(cl.keep_id, dd.doc_id) AS group_id
        |  FROM (SELECT doc_id FROM documents) dd LEFT JOIN cl USING (doc_id))
        |SELECT doc_id, group_id,
        |  CASE WHEN md5('split:42:' || CAST(group_id AS VARCHAR)) < 'cccccccc'
        |    THEN 'train'
        |  WHEN md5('split:42:' || CAST(group_id AS VARCHAR)) < 'e6666666'
        |    THEN 'val'
        |  ELSE 'test' END AS split
        |FROM g""".stripMargin,

    // Line explode → distinct-doc count → anti join → ordered rebuild,
    // over the same constructed strings.
    "q195_boilerplate_lines" ->
      """WITH t0 AS (SELECT doc_id, text
        |    || CASE WHEN doc_id % 2 = 0
        |         THEN chr(10) || 'copyright footer all rights reserved'
        |         ELSE '' END
        |    || CASE WHEN doc_id % 3 = 0
        |         THEN chr(10) || 'unique footer ' || CAST(doc_id AS VARCHAR)
        |         ELSE '' END AS text
        |  FROM documents),
        |d AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM t0),
        |ln AS (SELECT doc_id, g.i AS lidx, ls[g.i + 1] AS line
        |  FROM d, LATERAL (SELECT unnest(generate_series(0, len(ls) - 1))
        |    AS i) g),
        |b AS (SELECT line FROM
        |  (SELECT line, count(DISTINCT doc_id) AS df FROM ln GROUP BY 1)
        |  WHERE df >= 10),
        |keep AS (SELECT ln.doc_id, ln.lidx, ln.line FROM ln
        |  ANTI JOIN b ON ln.line = b.line),
        |rb AS (SELECT doc_id, count(*) AS nk,
        |    string_agg(line, chr(10) ORDER BY lidx) AS cleaned
        |  FROM keep GROUP BY 1)
        |SELECT d.doc_id, CAST(len(d.ls) AS BIGINT) AS n_lines,
        |  CAST(len(d.ls) - coalesce(rb.nk, 0) AS BIGINT) AS n_removed,
        |  coalesce(rb.cleaned, '') AS cleaned
        |FROM d LEFT JOIN rb USING (doc_id)""".stripMargin,

    // Exact replay of the matching algebra: grouped counts, the
    // identical double division chain, floor at 2^-32, hex-threshold
    // string compare against md5('42:' || doc_id).
    "q194_length_match" ->
      """WITH s AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |t AS (SELECT n_tokens FROM s WHERE n_tokens < 60),
        |sc AS (SELECT n_tokens // 10 AS bucket, count(*) AS sn
        |  FROM s GROUP BY 1),
        |tc AS (SELECT n_tokens // 10 AS bucket, count(*) AS tn
        |  FROM t GROUP BY 1),
        |tot AS (SELECT (SELECT sum(sn) FROM sc) AS stot,
        |    (SELECT sum(tn) FROM tc) AS ttot),
        |w AS (SELECT sc.bucket,
        |    (CAST(coalesce(tc.tn, 0) AS DOUBLE) / tot.ttot) /
        |      (CAST(sc.sn AS DOUBLE) / tot.stot) AS w
        |  FROM sc LEFT JOIN tc USING (bucket), tot),
        |mx AS (SELECT max(w) AS wmax FROM w),
        |p AS (SELECT bucket, w.w / mx.wmax AS p_keep FROM w, mx)
        |SELECT s.doc_id, s.n_tokens, s.n_tokens // 10 AS bucket,
        |  round(p.p_keep, 6) AS p_keep,
        |  md5('42:' || s.doc_id) <
        |    CASE WHEN p.p_keep >= 1.0 THEN 'g'
        |      ELSE printf('%08x',
        |        CAST(floor(p.p_keep * 4294967296.0) AS BIGINT)) END AS keep
        |FROM s JOIN p ON p.bucket = s.n_tokens // 10""".stripMargin,

    // Per-token Luhn replay: try_cast keeps non-digit tokens NULL-safe
    // (DuckDB's AND does not short-circuit in vectorized eval), the
    // mod-10 fold is pure integer algebra in both engines.
    "q190_card_scrub" ->
      """WITH t0 AS (SELECT doc_id, text
        |    || CASE WHEN doc_id % 5 = 0 THEN ' 4111111111111111' ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN ' 4111111111111112' ELSE '' END
        |    || CASE WHEN doc_id % 3 = 0
        |         THEN ' 1234567890 371449635398431' ELSE '' END AS text
        |  FROM documents),
        |m AS (SELECT doc_id, list_transform(string_split(text, ' '), t ->
        |    CASE WHEN regexp_matches(t, '^[0-9]{13,19}$') AND
        |      list_sum(list_transform(range(1, len(t) + 1), i ->
        |        CASE WHEN (len(t) - i) % 2 = 1
        |          THEN CASE WHEN try_cast(t[i] AS INT) * 2 > 9
        |            THEN try_cast(t[i] AS INT) * 2 - 9
        |            ELSE try_cast(t[i] AS INT) * 2 END
        |          ELSE try_cast(t[i] AS INT) END)) % 10 = 0
        |    THEN '<CARD>' ELSE t END) AS st FROM t0)
        |SELECT doc_id,
        |  CAST(len(list_filter(st, x -> x = '<CARD>')) AS BIGINT) AS n_cards,
        |  array_to_string(st, ' ') AS scrubbed_cards
        |FROM m""".stripMargin,

    // (v+1)/2^52 with v = first 13 md5 hex digits — exact in doubles,
    // so the key arithmetic replays bit-for-bit (ln at ulp scale only).
    "q87_weighted_sample" ->
      """WITH k AS (
        |  SELECT doc_id, n_chars,
        |    ln((CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 13)
        |         AS BIGINT) + 1) / 4503599627370496.0) / n_chars AS es_key
        |  FROM documents)
        |SELECT doc_id, n_chars, round(es_key, 9) AS w_key FROM k
        |ORDER BY es_key DESC, doc_id LIMIT 64""".stripMargin,

    // hexThreshold: 0.5→80000000, 0.25→40000000, 0.1→19999999
    "q50_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE md5('42:' || CAST(doc_id AS VARCHAR)) <
        |  CASE WHEN lang = 'en' THEN '80000000'
        |       WHEN lang = 'de' THEN '40000000'
        |       ELSE '19999999' END""".stripMargin,

    "q51_pack_sequences" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |  CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS start_offset
        |  FROM t)
        |SELECT doc_id, n_tokens, start_offset,
        |  CAST(start_offset // 512 AS BIGINT) AS seq_idx FROM c""".stripMargin,

    "q58_shuffle_shards" ->
      """WITH o AS (SELECT doc_id,
        |  row_number() OVER (ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)),
        |    doc_id) - 1 AS pos
        |  FROM documents)
        |SELECT doc_id, pos, pos % 8 AS shard FROM o""".stripMargin,

    "q59_tfidf_topk" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
        |  WHERE term <> '' GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
        |  tf.tf * (ln((n.n + 1.0) / (dfq.df + 1.0)) + 1) AS score
        |  FROM tf, dfq, n WHERE tf.term = dfq.term),
        |r AS (SELECT doc_id, term, tf, df, row_number() OVER
        |  (PARTITION BY doc_id ORDER BY score DESC, term) AS rank FROM s)
        |SELECT doc_id, term, tf, df, rank FROM r WHERE rank <= 5""".stripMargin,

    "q60_char_entropy" ->
      """WITH c AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
        |  FROM documents)
        |SELECT doc_id, count(DISTINCT ch) AS distinct_chars,
        |  round(entropy(ch), 6) AS entropy
        |FROM c WHERE ch <> '' GROUP BY 1""".stripMargin,

    "q61_lexical_stats" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tc AS (SELECT source, term, count(*) AS cnt FROM tok
        |  WHERE term <> '' GROUP BY 1, 2),
        |ps AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |  count(*) AS vocab,
        |  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
        |  FROM tc GROUP BY 1),
        |docs AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
        |SELECT docs.source, docs.n_docs, ps.n_tokens, ps.vocab, ps.hapax,
        |  round(ps.vocab * 1.0 / ps.n_tokens, 6) AS ttr
        |FROM docs JOIN ps USING (source)""".stripMargin,

    "q71_quality_budget" ->
      """WITH q AS (SELECT doc_id, source,
        |  CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT)
        |    AS n_tokens,
        |  (CASE WHEN len(string_split(text, ' ')) < 5
        |      THEN 0.1::DOUBLE ELSE 1.0::DOUBLE END)
        |    * (1.0 - least(round(len(regexp_extract_all(text, '[^\w\s]')) * 1.0 /
        |        greatest(length(text), 1), 6) * 4, 1.0::DOUBLE) * 0.5)
        |    * (1.0 - round(1.0 - len(list_distinct(string_split(text, ' '))) * 1.0 /
        |        greatest(len(string_split(text, ' ')), 1), 6) * 0.5) AS quality
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |  CAST(sum(n_tokens) OVER (PARTITION BY source
        |    ORDER BY quality DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS cum_tokens FROM q)
        |SELECT doc_id, source, n_tokens, cum_tokens,
        |  CASE WHEN source = 'src0' THEN cum_tokens <= 30000
        |       WHEN source = 'src1' THEN cum_tokens <= 8000
        |       WHEN source = 'src2' THEN cum_tokens <= 0
        |       ELSE false END AS keep
        |FROM c""".stripMargin,

    "q70_bm25_topk" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |l AS (SELECT doc_id, len(ts) AS dl FROM t),
        |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM l),
        |tok AS (SELECT doc_id, unnest(ts) AS term FROM t),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
        |  WHERE term IN ('spark', 'table', 'join') GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS dfq FROM tf GROUP BY 1),
        |sc AS (SELECT tf.doc_id, sum(
        |    ln(1 + (stats.n - dfreq.dfq + 0.5) / (dfreq.dfq + 0.5)) *
        |    tf.tf * (1.2 + 1) /
        |    (tf.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / stats.avgdl))) AS score
        |  FROM tf JOIN dfreq USING (term) JOIN l USING (doc_id), stats
        |  GROUP BY 1)
        |SELECT doc_id, round(score, 6) AS bm25 FROM sc
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,

    "q67_length_quantiles" ->
      """WITH t AS (SELECT source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  round(quantile_cont(n, 0.5), 6) AS p50,
        |  round(quantile_cont(n, 0.9), 6) AS p90,
        |  round(quantile_cont(n, 0.99), 6) AS p99
        |FROM t GROUP BY 1""".stripMargin,

    "q66_vocab_encode" ->
      """WITH d AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents),
        |p AS (SELECT doc_id, unnest(list_transform(range(1, len(ts) + 1),
        |    i -> {'pos': i, 'term': ts[i]}), recursive := true) FROM d),
        |tf AS (SELECT term, count(*) AS cnt FROM p GROUP BY 1),
        |v AS (SELECT term, row_number() OVER (ORDER BY cnt DESC, term)
        |    AS token_id FROM tf ORDER BY cnt DESC, term LIMIT 20)
        |SELECT p.doc_id, p.pos, coalesce(v.token_id, 0) AS token_id
        |FROM p LEFT JOIN v USING (term)""".stripMargin,

    "q65_dsir_weights" ->
      """WITH d AS (SELECT doc_id, source,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents),
        |g AS (SELECT doc_id, source, unnest(list_concat(ts,
        |    list_transform(range(1, len(ts)),
        |      i -> ts[i] || ' ' || ts[i + 1]))) AS gram FROM d),
        |bkt AS (SELECT doc_id, source,
        |  CAST(concat('0x', substr(md5(gram), 1, 8)) AS UBIGINT) % 1024
        |    AS b FROM g),
        |db AS (SELECT doc_id, b, count(*) AS c FROM bkt GROUP BY 1, 2),
        |dist AS (SELECT b, count(*) AS r,
        |  sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS t
        |  FROM bkt GROUP BY 1),
        |tot AS (SELECT sum(r) AS sum_r, sum(t) AS sum_t FROM dist),
        |s AS (SELECT b, ln((t + 1.0) / (sum_t + 1.0 * 1024)) -
        |  ln((r + 1.0) / (sum_r + 1.0 * 1024)) AS llr FROM dist, tot)
        |SELECT db.doc_id, CAST(sum(db.c) AS BIGINT) AS n_grams,
        |  round(sum(db.c * s.llr), 6) AS log_weight
        |FROM db JOIN s USING (b) GROUP BY 1""".stripMargin,

    "q64_unigram_nll" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS c FROM tok
        |  WHERE term <> '' GROUP BY 1, 2),
        |gf AS (SELECT term, sum(c) AS g FROM tf GROUP BY 1),
        |tot AS (SELECT sum(g) AS t FROM gf)
        |SELECT tf.doc_id, CAST(sum(tf.c) AS BIGINT) AS n_tokens,
        |  round(-sum(tf.c * ln(gf.g / tot.t)) / sum(tf.c), 6) AS avg_nll
        |FROM tf JOIN gf USING (term), tot GROUP BY 1""".stripMargin,

    "q63_mixture_sample" ->
      """WITH t AS (SELECT doc_id, source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |b(source, budget) AS (VALUES ('src0', 700), ('src1', 3000),
        |  ('src2', 400), ('src3', 900)),
        |s AS (SELECT source, sum(n_tokens) AS src_tokens FROM t GROUP BY 1),
        |r AS (SELECT b.source,
        |  least(1.0, CAST(b.budget AS DOUBLE) / CAST(s.src_tokens AS DOUBLE))
        |    AS rate
        |  FROM b JOIN s USING (source)),
        |rt AS (SELECT source, rate, CASE WHEN rate >= 1.0 THEN 'g'
        |  ELSE printf('%08x', CAST(floor(rate * 4294967296.0) AS BIGINT))
        |  END AS thr FROM r)
        |SELECT t.doc_id, t.source, t.n_tokens, rt.rate
        |FROM t JOIN rt USING (source)
        |WHERE md5('42:' || CAST(t.doc_id AS VARCHAR)) < rt.thr""".stripMargin,

    "q57_ngram_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |tot AS (SELECT doc_id, greatest(len(t) - 1, 0) AS n_ngrams FROM d),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |  i -> t[i] || ' ' || t[i+1])) AS g FROM d WHERE len(t) >= 2),
        |c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
        |agg AS (SELECT doc_id, max(c) AS top_ngram_n,
        |  CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_ngram_n
        |  FROM c GROUP BY 1)
        |SELECT tot.doc_id, tot.n_ngrams,
        |  coalesce(agg.top_ngram_n, 0) AS top_ngram_n,
        |  coalesce(agg.dup_ngram_n, 0) AS dup_ngram_n,
        |  CASE WHEN tot.n_ngrams > 0 THEN
        |    round(coalesce(agg.top_ngram_n, 0) * 1.0 / tot.n_ngrams, 6)
        |  ELSE 0.0 END AS top_ngram_frac,
        |  CASE WHEN tot.n_ngrams > 0 THEN
        |    round(coalesce(agg.dup_ngram_n, 0) * 1.0 / tot.n_ngrams, 6)
        |  ELSE 0.0 END AS dup_ngram_frac
        |FROM tot LEFT JOIN agg USING (doc_id)""".stripMargin,

    // The Misra–Gries guarantees are theorems, so the oracle states the
    // exact-side facts (total tokens, how many terms exceed n/(k+1))
    // and TRUE for both invariant booleans; a sketch bug that broke
    // either bound would flip a boolean and fail the hash compare.
    "q98_heavy_hitters" ->
      """WITH t AS (
        |  SELECT tok AS term FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE length(tok) > 0),
        |n AS (SELECT count(*) AS n_total FROM t)
        |SELECT n.n_total,
        |  (SELECT count(*) FROM (SELECT term, count(*) AS c FROM t GROUP BY 1)
        |   WHERE c > n.n_total / 65.0) AS n_heavy,
        |  true AS all_heavy_found, true AS bounds_ok
        |FROM n""".stripMargin,

    "q73_top_ngrams" ->
      """WITH d AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)),
        |  i -> ts[i] || ' ' || ts[i + 1])) AS gram FROM d WHERE len(ts) >= 2)
        |SELECT gram, count(*) AS cnt, count(DISTINCT doc_id) AS n_docs
        |FROM g GROUP BY 1 ORDER BY cnt DESC, gram LIMIT 25""".stripMargin,

    // Same expression SHAPE as the Spark side so every division is the
    // identical correctly-rounded IEEE op; ln + round(,6) is the q64
    // discipline; the ORDER BY uses the unrounded value with the word
    // tiebreak (bit-equal doubles on equal count triples).
    "q74_pmi_collocations" ->
      """WITH d AS (SELECT
        |  list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM documents),
        |tot AS (SELECT CAST(sum(len(ts)) AS BIGINT) AS n_uni,
        |  CAST(sum(greatest(len(ts) - 1, 0)) AS BIGINT) AS n_bi FROM d),
        |uc AS (SELECT w, count(*) AS c
        |  FROM (SELECT unnest(ts) AS w FROM d) GROUP BY 1),
        |bg AS (SELECT ts[i] AS w1, ts[i + 1] AS w2
        |  FROM (SELECT ts, unnest(range(1, len(ts))) AS i FROM d
        |        WHERE len(ts) >= 2)),
        |bc AS (SELECT w1, w2, count(*) AS pair_n FROM bg GROUP BY 1, 2
        |  HAVING count(*) >= 5),
        |j AS (SELECT w1, w2, pair_n, a.c AS left_n, b.c AS right_n,
        |  ln((pair_n * 1.0 / n_bi) /
        |     ((a.c * 1.0 / n_uni) * (b.c * 1.0 / n_uni))) AS p
        |  FROM bc JOIN uc a ON a.w = bc.w1 JOIN uc b ON b.w = bc.w2, tot)
        |SELECT w1, w2, pair_n, left_n, right_n, round(p, 6) AS pmi
        |FROM j ORDER BY p DESC, w1, w2 LIMIT 25""".stripMargin,

    "q75_zipf_fit" ->
      """WITH tf AS (SELECT term, count(*) AS cnt FROM (
        |    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
        |      AS term FROM documents)
        |  GROUP BY 1 ORDER BY cnt DESC, term LIMIT 100),
        |rk AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term) AS r
        |  FROM tf),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
        |  sum(ln(r)) AS sx, sum(ln(cnt)) AS sy,
        |  sum(ln(r) * ln(r)) AS sxx, sum(ln(r) * ln(cnt)) AS sxy FROM rk),
        |sl AS (SELECT n_terms, sx, sy,
        |  (sxy - sx * sy / n_terms) / (sxx - sx * sx / n_terms) AS slope_raw
        |  FROM s)
        |SELECT n_terms, round(slope_raw, 6) AS slope,
        |  round((sy - slope_raw * sx) / n_terms, 6) AS intercept FROM sl""".stripMargin,

    "q76_length_outliers" ->
      """WITH t AS (SELECT doc_id, source,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
        |    AS BIGINT) AS n_tokens FROM documents),
        |m AS (SELECT source, median(n_tokens) AS med FROM t GROUP BY 1),
        |d AS (SELECT t.doc_id, t.source, t.n_tokens, m.med,
        |  abs(t.n_tokens - m.med) AS dev FROM t JOIN m USING (source)),
        |md AS (SELECT source, median(dev) AS mad FROM d GROUP BY 1),
        |j AS (SELECT d.doc_id, d.source, d.n_tokens, d.med, md.mad,
        |  CASE WHEN md.mad > 0.0 THEN
        |    round((d.n_tokens - d.med) / (1.4826 * md.mad), 6) END AS z
        |  FROM d JOIN md USING (source))
        |SELECT doc_id, source, n_tokens, med, mad, z,
        |  coalesce(abs(z) > 3.0, false) AS is_outlier FROM j""".stripMargin,

    // Identical division/ln tree shape as the Spark side (the q64
    // discipline); contexts are plain unigram counts, V the unigram
    // vocabulary, α = 0.1 the same literal in both engines.
    "q78_bigram_nll" ->
      """WITH d AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM documents),
        |bg AS (SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
        |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i FROM d
        |        WHERE len(ts) >= 2)),
        |db AS (SELECT doc_id, w1, w2, count(*) AS c FROM bg GROUP BY 1, 2, 3),
        |cb AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
        |cu AS (SELECT w1, count(*) AS c1
        |  FROM (SELECT unnest(ts) AS w1 FROM d) GROUP BY 1),
        |v AS (SELECT CAST(count(*) AS BIGINT) AS vsz FROM cu)
        |SELECT db.doc_id, CAST(sum(db.c) AS BIGINT) AS n_bigrams,
        |  round(-sum(db.c * ln((cb.c12 + 0.1) / (cu.c1 + 0.1 * v.vsz)))
        |    / sum(db.c), 6) AS avg_nll
        |FROM db JOIN cb USING (w1, w2) JOIN cu USING (w1), v
        |GROUP BY 1""".stripMargin,
  )
}
