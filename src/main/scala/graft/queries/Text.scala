package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.{Lake, Tables}
import graft.functions.TextFns
import graft.operators.{Classify, Dedup, Incremental, Ranking, Retrieval, Similarity, TextAnalysis}

/** Text-analysis + dedup coverage over `documents` — the reference's
  * Transform semantics (normalize/tokenize/keyword-vote,
  * /root/reference/dags/Transform.py:14-33) generalized into the
  * LLM-pipeline surface: classification, token stats, quality scoring,
  * language ID, fingerprinting, exact dedup, MinHash-LSH, SimHash and
  * n-gram Jaccard near-dup.
  *
  * Oracle-parity approach for the hash-based operators: every hash is
  * md5 (identical bytes in Spark and DuckDB), MinHash minimizes over
  * lexicographic hex ordering, and SimHash derives bits from md5-hex
  * nibbles — so even the sketch operators hash-match the oracle
  * exactly rather than settling for rows-only checks.
  */
object Text {

  /** DuckDB twin of TextFns.normalize + tokens: used verbatim inside
    * every oracle below. */
  private[queries] val oTok =
    """list_filter(regexp_split_to_array(trim(lower(translate(text, ',;''', '   '))), '\s+'), x -> length(x) > 0)"""

  /** Topic dictionary over the synthetic corpus vocabulary. */
  val topicDict: Seq[(String, String)] = Seq(
    "join" -> "relational", "merge" -> "relational", "hash" -> "relational",
    "table" -> "relational", "query" -> "relational",
    "stream" -> "streaming", "window" -> "streaming", "batch" -> "streaming",
    "scan" -> "storage", "column" -> "storage", "row" -> "storage",
    "part" -> "storage",
    "sort" -> "sorting", "order" -> "sorting", "key" -> "sorting",
    "fast" -> "perf", "slow" -> "perf", "big" -> "perf", "small" -> "perf")

  private def dictValues(d: Seq[(String, String)]): String =
    d.map { case (w, l) => s"('$w','$l')" }.mkString(", ")

  /** Language stopword dictionary flattened to (word, lang). */
  val langDict: Seq[(String, String)] =
    TextAnalysis.stopwords.toSeq.sortBy(_._1)
      .flatMap { case (lang, ws) => ws.map(_ -> lang) }

  val all: Seq[Q] = Seq(

    // The flagship: keyword majority-vote classification (reference
    // Transform.py:14-33 → explode + broadcast equi-join + argmax).
    Q("q30_classify",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($oTok) AS tok FROM documents),
         |dict(word, label) AS (VALUES ${dictValues(topicDict)}),
         |votes AS (
         |  SELECT doc_id, label, count(*) AS cnt
         |  FROM toks JOIN dict ON tok = word GROUP BY doc_id, label),
         |top AS (
         |  SELECT doc_id, label,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, label) AS rn
         |  FROM votes)
         |SELECT d.doc_id, coalesce(t.label, 'other') AS label
         |FROM documents d LEFT JOIN top t ON d.doc_id = t.doc_id AND t.rn = 1
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val dict = s.createDataFrame(topicDict).toDF("word", "label")
      Classify.byKeywords(Tables.documents(s, d), "doc_id", "text", dict, "other")
        .orderBy("doc_id")
    },

    // Token statistics: whitespace + BPE-ish regex token counting.
    Q("q31_token_stats",
      s"""WITH t AS (SELECT doc_id, text, $oTok AS toks FROM documents)
         |SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_bpe_ish
         |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = TextFns.tokens(TextFns.normalize(col("text")))
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_distinct"),
          size(regexp_extract_all(lower(col("text")),
            lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long").as("n_bpe_ish"))
        .orderBy("doc_id")
    },

    // Quality scoring (length/punct/stopword ratios + composite score).
    // Rounding is exact-integer half-up on both sides (see
    // TextAnalysis.quality): round(double,4) ties are engine-dependent.
    Q("q32_quality",
      s"""WITH t AS (SELECT doc_id, text, $oTok AS toks FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS nc,
         |    CAST(len(toks) AS BIGINT) AS nw,
         |    CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS sl,
         |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS BIGINT) AS np,
         |    CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS BIGINT) AS ns
         |  FROM t)
         |SELECT doc_id,
         |  nc AS n_chars,
         |  nw AS n_words,
         |  CASE WHEN nw = 0 THEN 0.0 ELSE floor((sl * 20000 + nw) / (nw * 2)) / 10000.0 END AS mean_word_len,
         |  CASE WHEN nc = 0 THEN 0.0 ELSE floor((np * 20000 + nc) / (nc * 2)) / 10000.0 END AS punct_ratio,
         |  CASE WHEN nw = 0 THEN 0.0 ELSE floor((ns * 20000 + nw) / (nw * 2)) / 10000.0 END AS stopword_ratio,
         |  CASE WHEN nw = 0 THEN 0.0 ELSE
         |    floor(((nw * least(nw, 100) * 2
         |            + CASE WHEN sl >= nw * 3 AND sl <= nw * 10 THEN nw * 150 ELSE 0 END
         |            + least(ns * 3, nw) * 150) * 20000 + nw * 500) / (nw * 1000)) / 10000.0
         |  END AS quality_score
         |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.quality(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    // The fused corpus gate: q32's quality metrics AND a keyword-vote
    // language label from ONE map-only projection (separate quality +
    // classify passes scan the corpus twice). Oracle = quality CTE ⋈
    // vote-argmax CTE.
    Q("q72_corpus_gate",
      s"""WITH t AS (SELECT doc_id, text, $oTok AS toks FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS nc,
         |    CAST(len(toks) AS BIGINT) AS nw,
         |    CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS sl,
         |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS BIGINT) AS np,
         |    CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS BIGINT) AS ns
         |  FROM t),
         |ltoks AS (SELECT doc_id, unnest($oTok) AS tok FROM documents),
         |dict(word, plang) AS (VALUES ${dictValues(langDict)}),
         |votes AS (SELECT doc_id, plang, count(*) AS cnt
         |  FROM ltoks JOIN dict ON tok = word GROUP BY doc_id, plang),
         |top AS (SELECT doc_id, plang,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, plang) AS rn
         |  FROM votes)
         |SELECT m.doc_id,
         |  nc AS n_chars,
         |  nw AS n_words,
         |  CASE WHEN nw = 0 THEN 0.0 ELSE floor((sl * 20000 + nw) / (nw * 2)) / 10000.0 END AS mean_word_len,
         |  CASE WHEN nc = 0 THEN 0.0 ELSE floor((np * 20000 + nc) / (nc * 2)) / 10000.0 END AS punct_ratio,
         |  CASE WHEN nw = 0 THEN 0.0 ELSE floor((ns * 20000 + nw) / (nw * 2)) / 10000.0 END AS stopword_ratio,
         |  CASE WHEN nw = 0 THEN 0.0 ELSE
         |    floor(((nw * least(nw, 100) * 2
         |            + CASE WHEN sl >= nw * 3 AND sl <= nw * 10 THEN nw * 150 ELSE 0 END
         |            + least(ns * 3, nw) * 150) * 20000 + nw * 500) / (nw * 1000)) / 10000.0
         |  END AS quality_score,
         |  coalesce(t2.plang, 'und') AS label
         |FROM m LEFT JOIN (SELECT doc_id, plang FROM top WHERE rn = 1) t2
         |  ON m.doc_id = t2.doc_id
         |ORDER BY m.doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.corpusGate(Tables.documents(s, d), "doc_id", "text",
          s.createDataFrame(langDict).toDF("word", "label"), "und")
        .orderBy("doc_id")
    },

    // Overlapping token chunks (6-token windows every 3): the passage
    // grid an embedding pipeline encodes. Map-only — no shuffle; the
    // integer chunk arithmetic makes the grid oracle-portable.
    Q("q73_chunk_docs",
      s"""WITH t AS (SELECT doc_id, $oTok AS toks FROM documents),
         |k AS (SELECT doc_id, toks,
         |    unnest(generate_series(0, (greatest(len(toks) - 6, 0) + 2) // 3)) AS k
         |  FROM t WHERE len(toks) >= 1)
         |SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
         |  CAST(k * 3 + 1 AS BIGINT) AS start_tok,
         |  CAST(least(6, len(toks) - k * 3) AS BIGINT) AS n_tok,
         |  array_to_string(list_slice(toks, k * 3 + 1, k * 3 + 6), ' ') AS chunk_text
         |FROM k ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      TextAnalysis.chunkDocuments(Tables.documents(s, d), "doc_id", "text",
          chunkTokens = 6, strideTokens = 3)
        .orderBy("doc_id", "chunk_id")
    },

    // Heavy hitters at bounded state: Misra-Gries candidate sketch
    // (101 counters, guarantees recall above the 1/100 threshold) +
    // exact recount of candidates only. The oracle is the PLAIN exact
    // GROUP BY ... HAVING — the sketch changes the path, never the
    // answer, which is exactly the property the hash check proves.
    Q("q92_heavy_hitters",
      s"""WITH g AS (SELECT unnest($oTok) AS ngram FROM documents),
         |c AS (SELECT ngram, count(*) AS cnt FROM g GROUP BY 1)
         |SELECT ngram, cnt FROM c
         |WHERE cnt * 100 > (SELECT count(*) FROM g)
         |ORDER BY ngram""".stripMargin) { (s, d) =>
      TextAnalysis.heavyNgrams(Tables.documents(s, d), "text",
          n = 1, num = 1, denom = 100)
        .orderBy("ngram")
    },

    // Boilerplate strip (C4-style line dedup over 8-token segments):
    // segments occurring in ≥2 distinct docs vanish from every doc,
    // survivors reassembled in order. Both sides hot-set on the SAME
    // 60-bit md5 prefix, so the hash-match holds even under prefix
    // collision; DuckDB's string_agg(... ORDER BY k) is the oracle
    // twin of the array_sort-by-position regroup.
    Q("q89_boilerplate_strip",
      s"""WITH t AS (SELECT doc_id, $oTok AS toks FROM documents),
         |s AS (SELECT doc_id, toks, unnest(generate_series(0, (len(toks) - 1) // 8)) AS k
         |      FROM t WHERE len(toks) >= 1),
         |hs AS (SELECT doc_id, k,
         |    array_to_string(list_slice(toks, k * 8 + 1, k * 8 + 8), ' ') AS seg,
         |    CAST(('0x' || substr(md5(array_to_string(list_slice(toks, k * 8 + 1, k * 8 + 8), ' ')), 1, 15)) AS BIGINT) AS h
         |  FROM s),
         |hot AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS df FROM hs GROUP BY 1)
         |        WHERE df >= 2),
         |kept AS (SELECT doc_id, k, seg FROM hs WHERE h NOT IN (SELECT h FROM hot)),
         |re AS (SELECT doc_id, count(*) AS n_kept,
         |    string_agg(seg, ' ' ORDER BY k) AS clean_text FROM kept GROUP BY doc_id)
         |SELECT t.doc_id,
         |  CAST(CASE WHEN toks IS NULL OR len(toks) = 0 THEN 0 ELSE (len(toks) - 1) // 8 + 1 END AS BIGINT) AS n_seg,
         |  coalesce(n_kept, 0) AS n_kept,
         |  coalesce(clean_text, '') AS clean_text
         |FROM t LEFT JOIN re ON t.doc_id = re.doc_id
         |ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.stripBoilerplate(Tables.documents(s, d), "doc_id", "text",
          segTokens = 8, minDocFreq = 2)
        .orderBy("doc_id")
    },

    // Language ID by stopword-overlap vote; 'und' when nothing matches.
    Q("q33_lang_id",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($oTok) AS tok FROM documents),
         |dict(word, plang) AS (VALUES ${dictValues(langDict)}),
         |votes AS (
         |  SELECT doc_id, plang, count(*) AS cnt
         |  FROM toks JOIN dict ON tok = word GROUP BY doc_id, plang),
         |top AS (
         |  SELECT doc_id, plang,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, plang) AS rn
         |  FROM votes)
         |SELECT d.doc_id, coalesce(t.plang, 'und') AS pred_lang, d.lang
         |FROM documents d LEFT JOIN top t ON d.doc_id = t.doc_id AND t.rn = 1
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val dict = s.createDataFrame(langDict).toDF("word", "label")
      val docs = Tables.documents(s, d)
      Classify.byKeywords(docs, "doc_id", "text", dict, "und")
        .withColumnRenamed("label", "pred_lang")
        .join(docs.select("doc_id", "lang"), Seq("doc_id"))
        .orderBy("doc_id")
    },

    // Content fingerprinting → exact dedup groups (md5 over normalized
    // text; one shuffle on the 128-bit key).
    Q("q34_fingerprint_dedup",
      """SELECT md5(lower(translate(text, ',;''', '   '))) AS fp,
        |  min(doc_id) AS keep_id, count(*) AS dup_cnt
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin) { (s, d) =>
      Dedup.exact(Tables.documents(s, d), "doc_id", "text")
        .orderBy("fp")
    },

    // Rolling-hash (Rabin–Karp) document fingerprint — native codegen
    // expression; exact integer arithmetic matches DuckDB's
    // list_reduce fold bit-for-bit (ASCII corpus).
    Q("q36_rolling_fingerprint",
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(generate_series(1, length(text)),
        |                     i -> CAST(ord(substr(text, i, 1)) AS BIGINT))),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) AS rhash
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.plans.GraftExtensions.rollingHash(col("text")).as("rhash"))
        .orderBy("doc_id")
    },

    // Top word bigrams — corpus n-gram statistics.
    Q("q35_top_ngrams",
      s"""WITH t AS (SELECT doc_id, $oTok AS toks FROM documents),
         |n AS (
         |  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
         |                i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS ngram
         |  FROM t)
         |SELECT ngram, count(*) AS cnt FROM n GROUP BY ngram
         |ORDER BY cnt DESC, ngram LIMIT 20""".stripMargin) { (s, d) =>
      TextAnalysis.topNgrams(Tables.documents(s, d), "text", 2, 20)
    },

    // Anti-join dedup-vs-base (reference Load.is_in_base, Load.py:8-9):
    // docs from other sources whose fingerprint already exists in src0.
    Q("q40_antijoin_new_docs",
      """WITH base AS (
        |  SELECT DISTINCT md5(lower(translate(text, ',;''', '   '))) AS fp
        |  FROM documents WHERE source = 'src0')
        |SELECT d.doc_id FROM documents d
        |WHERE d.source <> 'src0'
        |  AND NOT EXISTS (SELECT 1 FROM base b
        |                  WHERE b.fp = md5(lower(translate(d.text, ',;''', '   '))))
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .withColumn("fp", TextFns.fingerprint(col("text")))
      Dedup.newRows(
          docs.where(col("source") =!= "src0"),
          docs.where(col("source") === "src0"), Seq("fp"))
        .select("doc_id")
        .orderBy("doc_id")
    },

    // Same contract as q40, different physical plan: the incremental-
    // load scale path. A Bloom sketch over the base fingerprints
    // (built distributed, reusable across batches) prunes the batch
    // map-only; only the might-contain candidates get the exact check,
    // as broadcast probes — neither table shuffles on the key. The
    // oracle is the plain anti-join: the sketch must be invisible in
    // the answer.
    Q("q96_bloom_dedup",
      """WITH base AS (
        |  SELECT DISTINCT md5(lower(translate(text, ',;''', '   '))) AS fp
        |  FROM documents WHERE source = 'src0')
        |SELECT d.doc_id FROM documents d
        |WHERE d.source <> 'src0'
        |  AND NOT EXISTS (SELECT 1 FROM base b
        |                  WHERE b.fp = md5(lower(translate(d.text, ',;''', '   '))))
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .withColumn("fp", TextFns.fingerprint(col("text")))
      val base = docs.where(col("source") === "src0")
      val bloom = Dedup.keyBloom(base, "fp", expectedItems = 1L << 16)
      Dedup.newRowsBloomed(docs.where(col("source") =!= "src0"), base, "fp", bloom)
        .select("doc_id")
        .orderBy("doc_id")
    },

    // MinHash + LSH banding near-dup candidates — oracle-exact because
    // the minhash is md5-hex-lexicographic (portable across engines).
    Q("q41_minhash_lsh", Text.minhashOracle) { (s, d) =>
      Dedup.minhashLsh(Tables.documents(s, d), "doc_id", "text",
          shingleN = 5, numHashes = 12, bands = 4)
        .orderBy("id_a", "id_b")
    },

    // End-to-end near-dup REMOVAL: LSH pairs → connected components →
    // keep the min-id member per cluster. The cleaned-corpus
    // deliverable the pair/cluster queries feed; payloads never enter
    // the candidate machinery (anti-join at the end).
    Q("q71_neardedup_corpus", Text.nearDedupOracle) { (s, d) =>
      Dedup.nearDedupCorpus(Tables.documents(s, d), "doc_id", "text",
          shingleN = 5, numHashes = 12, bands = 4, maxBandFreq = 100)
        .select("doc_id", "source", "lang", "text")
        .orderBy("doc_id")
    },

    // Exact n-gram Jaccard near-dup pairs (inverted-index candidate
    // join with a shingle-frequency cap).
    Q("q42_ngram_jaccard", Text.jaccardOracle) { (s, d) =>
      Dedup.ngramJaccard(Tables.documents(s, d), "doc_id", "text",
          shingleN = 3, threshold = 0.5, maxShingleFreq = 100)
        .select("id_a", "id_b", "common", "n_a", "n_b", "jaccard")
        .orderBy("id_a", "id_b")
    },

    // SimHash document fingerprints (32-bit, md5-derived bit votes)
    // through the explode+HashAggregate path (codegen'd; the
    // higher-order-function form is the per-array Column variant).
    Q("q43_simhash", Text.simhashOracle) { (s, d) =>
      Dedup.simhashFingerprints(Tables.documents(s, d), "doc_id", "text", 32)
        .select(col("doc_id"), col("fp").as("simhash"))
        .orderBy("doc_id")
    },

    // Corpus vocabulary: frequency-ranked dense token ids (the
    // tokenizer-training input shape). Distributed count; only the
    // vocab-sized final rank is single-partition.
    Q("q37_vocabulary",
      s"""WITH toks AS (SELECT unnest($oTok) AS token FROM documents),
         |counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token)
         |SELECT token, cnt,
         |  CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS token_id
         |FROM counts ORDER BY token_id""".stripMargin) { (s, d) =>
      TextAnalysis.vocabulary(Tables.documents(s, d), "text")
        .orderBy("token_id")
    },

    // Repetition ratio: share of a doc's trigrams taken by its most
    // repeated trigram — boilerplate/spam/degenerate-generation signal.
    Q("q49_repetition",
      s"""WITH t AS (SELECT doc_id, $oTok AS toks FROM documents),
         |g AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
         |    i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS g
         |  FROM t WHERE len(toks) >= 3),
         |c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
         |s AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS max_ngram_cnt,
         |             CAST(sum(c) AS BIGINT) AS n_ngrams FROM c GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(s.max_ngram_cnt, 0) AS max_ngram_cnt,
         |  coalesce(s.n_ngrams, 0) AS n_ngrams,
         |  coalesce(floor((s.max_ngram_cnt * 20000 + s.n_ngrams) / (s.n_ngrams * 2)) / 10000.0, 0.0)
         |    AS repetition_ratio
         |FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.repetitionRatio(Tables.documents(s, d), "doc_id", "text", 3)
        .orderBy("doc_id")
    },

    // Weighted corpus mixing: per-source deterministic sampling rates
    // (the training-mix composition step). md5-bucket mechanism →
    // reproducible and oracle-exact.
    Q("q58_corpus_mix",
      """WITH w(source, pct) AS (VALUES ('src0', 100), ('src1', 50), ('src2', 25))
        |SELECT d.doc_id, d.source FROM documents d
        |LEFT JOIN w ON d.source = w.source
        |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':mix'), 1, 8)) AS BIGINT) % 100
        |      < coalesce(w.pct, 100)
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val weights = Seq(("src0", 100L), ("src1", 50L), ("src2", 25L)).toDF("source", "pct")
      TextAnalysis.mixCorpus(Tables.documents(s, d), "doc_id", "source", weights)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    // Token-budget mix: each source contributes documents in salted-
    // hash priority order until 800 cumulative tokens — the exact-
    // budget complement of q58's rate-based mix. The Spark side runs
    // the skew-safe two-phase prefix sum (priority-bucketed windows +
    // broadcast offsets); the oracle runs the naive per-source running
    // sum they telescope to.
    Q("q108_token_budget_mix",
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    CAST(coalesce(len($oTok), 0) AS BIGINT) AS n_tokens,
         |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':budget'), 1, 8)) AS BIGINT) AS pri
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY source ORDER BY pri, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
         |  FROM t)
         |SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
         |FROM c WHERE cum_tokens <= 800 ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.tokenBudgetMix(Tables.documents(s, d),
          "doc_id", "source", "text", budgetTokens = 800L)
        .orderBy("doc_id")
    },

    // Top unigram tokens — corpus token frequency head.
    Q("q48_top_tokens",
      s"""WITH toks AS (SELECT unnest($oTok) AS token FROM documents)
         |SELECT token, count(*) AS cnt FROM toks GROUP BY token
         |ORDER BY cnt DESC, token LIMIT 25""".stripMargin) { (s, d) =>
      TextAnalysis.topTokens(Tables.documents(s, d), "text", 25)
    },

    // Deterministic hash split: reproducible train/valid/test
    // assignment (md5 bucket, not RNG — stable across engines, runs,
    // and corpus growth). Zero shuffle.
    Q("q38_hash_split",
      """SELECT doc_id,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket,
        |  CASE
        |    WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
        |    WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'valid'
        |    ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.hashSplit(Tables.documents(s, d), "doc_id")
        .select("doc_id", "bucket", "split")
        .orderBy("doc_id")
    },

    // PII redaction: chained literal-safe regex scrub + per-doc
    // redaction count (quarantine signal). One map stage, no shuffle.
    Q("q39_pii_redact", Text.piiOracle) { (s, d) =>
      TextAnalysis.redactPii(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Train/eval contamination: corpus docs sharing ≥5 trigram
    // shingles with the src0 "benchmark" slice (inverted-index
    // cross-join; benchmark side broadcastable at scale).
    Q("q46_contamination", Text.contaminationOracle) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.crossOverlap(
          docs.where(col("source") =!= "src0"),
          docs.where(col("source") === "src0"),
          "doc_id", "text", shingleN = 3, minCommon = 5, maxShingleFreq = 100)
        .orderBy("corpus_id", "bench_id")
    },

    // Decontamination as the corpus transform (q46 is the audit view):
    // the non-benchmark corpus minus every doc sharing >= 5 shingles
    // with the src0 benchmark slice.
    Q("q76_decontaminate",
      s"""WITH t AS (SELECT doc_id, source, $oTok AS toks FROM documents),
         |sh AS (
         |  SELECT doc_id, source,
         |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
         |      i -> CAST(('0x' || substr(md5(array_to_string(list_slice(toks, i, i + 2), ' ')), 1, 15)) AS BIGINT))) AS sh
         |  FROM t WHERE len(toks) >= 3),
         |cinv AS (SELECT doc_id AS corpus_id, unnest(sh) AS s FROM sh WHERE source <> 'src0'),
         |ccapped AS (
         |  SELECT corpus_id, s FROM (
         |    SELECT corpus_id, s, count(*) OVER (PARTITION BY s) AS f FROM cinv)
         |  WHERE f <= 100),
         |binv AS (SELECT doc_id AS bench_id, unnest(sh) AS s FROM sh WHERE source = 'src0'),
         |hits AS (
         |  SELECT DISTINCT corpus_id FROM (
         |    SELECT c.corpus_id, b.bench_id FROM ccapped c JOIN binv b ON c.s = b.s
         |    GROUP BY 1, 2 HAVING count(*) >= 5))
         |SELECT d.doc_id, d.source, d.lang, d.text FROM documents d
         |WHERE d.source <> 'src0'
         |  AND NOT EXISTS (SELECT 1 FROM hits h WHERE h.corpus_id = d.doc_id)
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.decontaminate(
          docs.where(col("source") =!= "src0"),
          docs.where(col("source") === "src0"),
          "doc_id", "text", shingleN = 3, minCommon = 5, maxShingleFreq = 100)
        .select("doc_id", "source", "lang", "text")
        .orderBy("doc_id")
    },

    // Unigram-LM quality score: per-doc NLL under the corpus's own
    // token distribution, in exact integer micro-nats (libm-exact ln
    // on integer-derived doubles, floored before summation) — the
    // order-0 perplexity filter.
    Q("q77_unigram_nll",
      s"""WITH toks AS (SELECT doc_id, unnest($oTok) AS tok FROM documents),
         |v AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
         |t AS (SELECT sum(cnt) AS tot FROM v),
         |sc AS (SELECT doc_id,
         |    CAST(floor(ln(CAST(cnt AS DOUBLE) / CAST(t.tot AS DOUBLE)) * 1000000) AS BIGINT) AS micro
         |  FROM toks JOIN v USING (tok), t)
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(-sum(micro) AS BIGINT) AS nll_micro,
         |  CAST(-sum(micro) AS DOUBLE) / CAST(count(*) * 1000000 AS DOUBLE) AS mean_nll
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.unigramNll(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Interpolated bigram-LM NLL: q77 one model order up. Bigrams are
    // extracted map-side (indexed transform, no positional self-join);
    // the interpolated probability is two integer-derived divisions +
    // a fixed-order add, ln'd via the libm-exact graft_ln and floored
    // to integer micro-nats — per-doc sums stay integer, so the score
    // is order-independent and hash-matches the oracle exactly.
    Q("q84_bigram_nll",
      s"""WITH t AS (SELECT doc_id, $oTok AS toks FROM documents),
         |uni AS (SELECT tok, count(*) AS uc
         |  FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok),
         |tt AS (SELECT sum(uc) AS tot FROM uni),
         |bi AS (SELECT doc_id, toks[i] AS prev, toks[i + 1] AS cur
         |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
         |        FROM t WHERE len(toks) >= 2)),
         |cb AS (SELECT prev, cur, count(*) AS cb FROM bi GROUP BY prev, cur),
         |cu AS (SELECT prev, count(*) AS cu FROM bi GROUP BY prev),
         |sc AS (SELECT b.doc_id,
         |    CAST(floor(ln(0.75 * (CAST(f.cb AS DOUBLE) / CAST(x.cu AS DOUBLE))
         |      + 0.25 * (CAST(u.uc AS DOUBLE) / CAST(tt.tot AS DOUBLE))) * 1000000) AS BIGINT) AS micro
         |  FROM bi b JOIN cb f ON b.prev = f.prev AND b.cur = f.cur
         |  JOIN cu x ON b.prev = x.prev
         |  JOIN uni u ON b.cur = u.tok, tt)
         |SELECT doc_id, count(*) AS n_transitions,
         |  CAST(-sum(micro) AS BIGINT) AS nll_micro,
         |  CAST(-sum(micro) AS DOUBLE) / CAST(count(*) * 1000000 AS DOUBLE) AS mean_nll
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.bigramNll(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Per-source quota cap: every source keeps its 15 lowest-id docs —
    // the per-domain cap that stops one crawl domain from dominating.
    Q("q78_source_cap",
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 15 ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.capPerGroup(Tables.documents(s, d), "source", "doc_id", 15)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    // Curriculum ordering: exact GLOBAL rank over the corpus by
    // (length desc, id) WITHOUT the single-reducer global window —
    // score-bucketed two-phase ranking (Ranking.rankByScore): local
    // rank inside each length cell + broadcast strictly-longer offsets.
    Q("q87_curriculum_order",
      """SELECT doc_id, lang, n_chars,
        |  CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rank
        |FROM documents ORDER BY rank""".stripMargin) { (s, d) =>
      Ranking.rankByScore(
          Tables.documents(s, d).select("doc_id", "lang", "n_chars"),
          groupCols = Seq.empty, scoreCol = "n_chars", tieCol = "doc_id",
          rankName = "rank")
        .select("doc_id", "lang", "n_chars", "rank")
        .orderBy("rank")
    },

    // Per-language quantile gate: keep the longest half of every
    // language, exactly (rank <= ceil(0.5·n_lang), id tie-break) —
    // same balanced two-phase shape, so no language's population ever
    // meets a single reducer the way PARTITION BY lang would force.
    Q("q88_quantile_gate",
      """WITH r AS (SELECT doc_id, lang, n_chars,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rank,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT doc_id, lang, n_chars, rank FROM r
        |WHERE rank <= ceil(0.5 * n) ORDER BY lang, rank""".stripMargin) { (s, d) =>
      Ranking.quantileGate(
          Tables.documents(s, d).select("doc_id", "lang", "n_chars"),
          groupCols = Seq("lang"), scoreCol = "n_chars", tieCol = "doc_id",
          frac = 0.5)
        .select("doc_id", "lang", "n_chars", "rank")
        .orderBy("lang", "rank")
    },

    // Per-group leaderboard — top 3 docs per (lang, source) by length
    // — at BOUNDED state: a mergeable top-k typed Aggregator
    // (functions.TopK) keeps k pairs per buffer map-side, so the
    // shuffle carries groups × k fixed-width pairs instead of every
    // row, and nothing sorts. The oracle is the window form the
    // aggregator replaces: row_number() PARTITION BY + filter.
    Q("q97_grouped_topk",
      """SELECT lang, source, rk, doc_id, score FROM (
        |  SELECT lang, source, doc_id, n_chars AS score,
        |    CAST(row_number() OVER (PARTITION BY lang, source
        |      ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk
        |  FROM documents)
        |WHERE rk <= 3 ORDER BY lang, source, rk""".stripMargin) { (s, d) =>
      Ranking.groupedTopK(Tables.documents(s, d),
          groupCols = Seq("lang", "source"), scoreCol = "n_chars",
          idCol = "doc_id", k = 3, idName = "doc_id")
        .select("lang", "source", "rk", "doc_id", "score")
        .orderBy("lang", "source", "rk")
    },

    // Tokenizer encode: each doc's (pos, token, token_id) stream
    // against the q37 corpus vocabulary — the materialization step
    // between vocab training and sequence packing. Vocab joined on the
    // token key (not broadcast — corpus-scale vocabularies don't fit).
    Q("q79_encode_tokens",
      s"""WITH toks AS (SELECT unnest($oTok) AS token FROM documents),
         |counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
         |v AS (SELECT token, cnt,
         |    CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS token_id
         |  FROM counts),
         |enc AS (SELECT doc_id, unnest($oTok) AS token,
         |    generate_subscripts($oTok, 1) AS pos
         |  FROM documents)
         |SELECT e.doc_id, CAST(e.pos AS BIGINT) AS pos, e.token,
         |  coalesce(v.token_id, -1) AS token_id
         |FROM enc e LEFT JOIN v USING (token)
         |ORDER BY doc_id, pos""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      TextAnalysis.encodeTokens(docs, "doc_id", "text",
          TextAnalysis.vocabulary(docs, "text"))
        .orderBy("doc_id", "pos")
    },

    // BPE subword encode: train 10 byte-pair merges on the corpus
    // word types (Sennrich's learn_bpe — count adjacent symbol pairs,
    // merge the most frequent, repeat; each round is one narrow
    // aggregate over the VOCAB-sized type table + a one-row argmax
    // collect, q91's iterative driver-round-trip class), then encode
    // every document's token stream into subword pieces: the trained
    // merge list rank-compiles driver-side into a broadcast lookup
    // applied by a typed per-partition pass over the distinct types
    // (plan size O(1) in the merge count — a 32k-merge production
    // list would blow the analyzer as a nested-replace chain), joined
    // back on the token key (the q79 shape). Completes the
    // tokenize→pack story at subword
    // granularity: q79/q64/q73/q108 consume exactly this id stream in
    // a real pipeline. The oracle replays training as 10 unrolled
    // materialized CTE steps — bit-identical tie-breaks (weight DESC,
    // pair ASC), integer-only, full hash check.
    Q("q137_bpe_encode", Text.bpeOracle) { (s, d) =>
      val docs = Tables.documents(s, d)
      TextAnalysis.bpeEncode(docs, "doc_id", "text",
          TextAnalysis.bpeMerges(docs, "text", nMerges = 10))
        .orderBy("doc_id", "pos", "piece_pos")
    },

    // Subword sequence packing: the q64 pretraining batch layout
    // measured in BPE PIECES instead of whitespace words — train the
    // q137 merges, count each document's pieces (one aggregate over
    // the encode stream), pack with the sharded prefix sum. This is
    // the layout step a real subword pipeline ships: budgets are
    // model-context tokens, and context windows count subwords.
    // Docs outside the trained alphabet (or with NULL text) pack with
    // count 0 and keep their stream position.
    Q("q139_bpe_pack", Text.bpePackOracle) { (s, d) =>
      val docs = Tables.documents(s, d)
      val pieces = TextAnalysis.bpeEncode(docs, "doc_id", "text",
        TextAnalysis.bpeMerges(docs, "text", nMerges = 10))
      val counts = docs.select("doc_id")
        .join(pieces.groupBy("doc_id").agg(count(lit(1)).as("n_tokens")),
          Seq("doc_id"), "left")
      TextAnalysis.packTokenCounts(counts, "doc_id", budget = 512, shards = 8)
        .orderBy("doc_id")
    },

    // FROZEN tokenizer (stored-index pattern for the BPE merges): the
    // trained merge list persists as a manifest-committed table —
    // rank-ordered (rank, a, b) rows — and encode LOADS it back
    // instead of retraining, the production tokenizer lifecycle
    // (subword ids are only comparable if every shard of every run
    // encoded against the same frozen merges; the committed table is
    // the versioned artifact that guarantees it, with time travel =
    // tokenizer versioning for free). The oracle is q137's: strings
    // round-trip parquet exactly, so frozen and fresh must agree to
    // the hash. Same discipline as the stored IVF/PQ codebooks
    // (q110/q120) and the stored df index (q130).
    Q("q142_stored_bpe", Text.bpeOracle) { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_bpe_merges_" + Integer.toHexString(d.hashCode) +
          "_" + Q.runId).toString
      graft.sources.Lake.commitOverwrite(
        TextAnalysis.bpeMerges(docs, "text", nMerges = 10).zipWithIndex
          .map { case ((a, b), r) => (r + 1, a, b) }
          .toDF("rank", "a", "b"),
        root)
      val stored = graft.sources.Lake.readCommitted(s, root)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeEncode(docs, "doc_id", "text", stored)
        .orderBy("doc_id", "pos", "piece_pos")
    },

    // Bounded-state quantile sketch with its guarantee under the hash
    // — the q90 pattern for percentiles: percentile_approx (the
    // Greenwald–Khanna sketch Spark ships; O(accuracy) state per
    // group, the ONLY way to quantile 100 TB in one pass) next to the
    // exact values, with the sketch's rank-error guarantee
    // (≤ n/accuracy) VERIFIED as boolean columns — the estimate's
    // rank bracket is recounted exactly against the data, so the
    // oracle's literal TRUE flags fail the hash if the sketch ever
    // exceeds its contract. Exact percentiles ride along for the
    // check only (they collect per-group state; at scale you ship
    // the sketch — that is the point).
    Q("q144_approx_percentiles",
      """SELECT lang,
        |  quantile_cont(n_chars, 0.5) AS exact_p50,
        |  quantile_cont(n_chars, 0.9) AS exact_p90,
        |  TRUE AS p50_within_bound, TRUE AS p90_within_bound
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select("lang", "n_chars")
      val acc = 100 // GK guarantee: rank error <= n/acc
      val est = docs.groupBy("lang").agg(
        percentile_approx(col("n_chars"), lit(0.5), lit(acc)).as("e50"),
        percentile_approx(col("n_chars"), lit(0.9), lit(acc)).as("e90"),
        percentile(col("n_chars"), lit(0.5)).as("exact_p50"),
        percentile(col("n_chars"), lit(0.9)).as("exact_p90"),
        count(lit(1)).as("n"))
      def ok(p: Double, le: org.apache.spark.sql.Column,
          lt: org.apache.spark.sql.Column) =
        (le >= col("n") * p - col("n") / acc - 1) &&
          (lt <= col("n") * p + col("n") / acc + 1)
      docs.join(broadcast(est), Seq("lang"))
        .groupBy("lang")
        .agg(
          first(col("exact_p50")).as("exact_p50"),
          first(col("exact_p90")).as("exact_p90"),
          first(col("n")).as("n"),
          sum(when(col("n_chars") <= col("e50"), 1L).otherwise(0L)).as("le50"),
          sum(when(col("n_chars") < col("e50"), 1L).otherwise(0L)).as("lt50"),
          sum(when(col("n_chars") <= col("e90"), 1L).otherwise(0L)).as("le90"),
          sum(when(col("n_chars") < col("e90"), 1L).otherwise(0L)).as("lt90"))
        .select(col("lang"), col("exact_p50"), col("exact_p90"),
          ok(0.5, col("le50"), col("lt50")).as("p50_within_bound"),
          ok(0.9, col("le90"), col("lt90")).as("p90_within_bound"))
        .orderBy("lang")
    },

    // SimHash Hamming near-dup pairs: byte-band the fingerprints,
    // candidates = any shared band, exact bit_count(xor) rescore.
    // Integer-only end-to-end → full hash check.
    Q("q44_simhash_neardup", Text.simhashPairsOracle) { (s, d) =>
      Dedup.simhashHammingPairs(Tables.documents(s, d), "doc_id", "text",
          bits = 32, bands = 4, maxDist = 3, maxBandFreq = 100)
        .orderBy("id_a", "id_b")
    },

    // Near-dup clusters: connected components over the q44 pair graph
    // (min-label propagation vs the oracle's recursive reachability —
    // different algorithms, same well-defined fixpoint).
    Q("q45_dedup_clusters", Text.clustersOracle) { (s, d) =>
      Dedup.connectedComponents(
          Dedup.simhashHammingPairs(Tables.documents(s, d), "doc_id", "text",
            bits = 32, bands = 4, maxDist = 3, maxBandFreq = 100))
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    },

    // Sequence packing: shard-local token-budget packing into training
    // sequences (a doc belongs to the sequence where it starts). The
    // shard hash, token count, and running sum are all
    // engine-portable → full hash check.
    Q("q64_sequence_pack",
      s"""WITH t AS (
         |  SELECT doc_id, CAST(len($oTok) AS BIGINT) AS n_tokens,
         |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 8 AS INT) AS shard
         |  FROM documents),
         |c AS (
         |  SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
         |    - n_tokens AS strt
         |  FROM t)
         |SELECT doc_id, n_tokens, shard,
         |  CAST(shard + (strt // 1024) * 8 AS BIGINT) AS seq_id,
         |  CAST(strt % 1024 AS BIGINT) AS tok_offset
         |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.sequencePack(Tables.documents(s, d), "doc_id", "text",
          budget = 1024, shards = 8)
        .orderBy("doc_id")
    },

    // TF-IDF term weighting: top terms per document. Window-based df
    // (no vocabulary join — at corpus scale the vocabulary is not
    // broadcastable), one-row N broadcast, no float summation anywhere
    // so the ln-derived score hash-matches bit-exactly.
    Q("q65_tfidf",
      s"""WITH toks AS (SELECT doc_id, unnest($oTok) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
         |wd AS (SELECT *, count(*) OVER (PARTITION BY term) AS df FROM tf),
         |n AS (SELECT count(*) AS n FROM documents),
         |s AS (SELECT doc_id, term, tf, df,
         |  CAST(tf AS DOUBLE) * ln(CAST(n.n AS DOUBLE) / CAST(df AS DOUBLE)) AS tfidf
         |  FROM wd, n),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
         |                     ORDER BY tfidf DESC, term) AS BIGINT) AS rnk FROM s)
         |SELECT doc_id, term, tf, df, tfidf, rnk FROM r
         |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin) { (s, d) =>
      Retrieval.tfidf(Tables.documents(s, d), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rnk")
    },

    // BM25 ranked retrieval for a bounded query-term set. The term
    // filter runs before the first shuffle; per-doc score accumulates
    // in DECIMAL (order-independent); expression tree mirrors the
    // oracle op-for-op so every double is bit-identical.
    Q("q66_bm25",
      s"""WITH toks AS (SELECT doc_id, unnest($oTok) AS term FROM documents),
         |hits AS (SELECT doc_id, term FROM toks
         |  WHERE term IN ('join','stream','window','sort','dup')),
         |qtf AS (SELECT doc_id, term, count(*) AS tf FROM hits GROUP BY doc_id, term),
         |dfs AS (SELECT term, count(*) AS df FROM qtf GROUP BY term),
         |dls AS (SELECT doc_id, CAST(coalesce(len($oTok), 0) AS BIGINT) AS dl FROM documents),
         |st AS (SELECT count(*) AS n, sum(dl) AS tl FROM dls),
         |sc AS (SELECT q.doc_id, d.dl,
         |   (ln((CAST(st.n AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5)
         |       / (CAST(f.df AS DOUBLE) + 0.5) + 1.0)
         |    * (CAST(q.tf AS DOUBLE) * (1.2 + 1.0)))
         |   / (CAST(q.tf AS DOUBLE) + (1.2 * ((1.0 - 0.75)
         |      + 0.75 * (CAST(d.dl AS DOUBLE)
         |                / (CAST(st.tl AS DOUBLE) / CAST(st.n AS DOUBLE)))))) AS c
         |  FROM qtf q JOIN dfs f USING (term) JOIN dls d USING (doc_id), st)
         |SELECT doc_id, dl, CAST(sum(CAST(c AS DECIMAL(27,12))) AS DOUBLE) AS score,
         |  count(*) AS n_terms
         |FROM sc GROUP BY doc_id, dl
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin) { (s, d) =>
      Retrieval.bm25(Tables.documents(s, d), "doc_id", "text",
        queryTerms = Seq("join", "stream", "window", "sort", "dup"), k = 10)
    },

    // Shared-passage pairs: the exact-substring-duplication signature
    // (docs sharing any identical 8-token run) via the capped inverted
    // index — cap rides the self-join's own exchange.
    Q("q67_shared_passage",
      s"""WITH t AS (SELECT doc_id, $oTok AS toks FROM documents),
         |w AS (SELECT DISTINCT doc_id,
         |    unnest(list_transform(generate_series(1, len(toks) - 7),
         |      i -> CAST(('0x' || substr(md5(array_to_string(list_slice(toks, i, i + 7), ' ')), 1, 15)) AS BIGINT))) AS s
         |  FROM t WHERE len(toks) >= 8),
         |c AS (SELECT *, count(*) OVER (PARTITION BY s) AS f FROM w),
         |kk AS (SELECT doc_id, s FROM c WHERE f <= 50)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_windows
         |FROM kk a JOIN kk b ON a.s = b.s AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      Dedup.sharedPassagePairs(Tables.documents(s, d), "doc_id", "text",
          windowTokens = 8, maxWindowFreq = 50)
        .orderBy("id_a", "id_b")
    },

    // Stratified rebalance: every language downsampled to ≈ the
    // smallest one, with data-derived exact-integer rates and a
    // ':bal'-salted deterministic hash — map-only selection.
    Q("q68_stratified_rebalance",
      """WITH c AS (SELECT lang AS stratum, count(*) AS cnt FROM documents GROUP BY lang),
        |m AS (SELECT min(cnt) AS mn FROM c),
        |r AS (SELECT stratum, (m.mn * 10000) // cnt AS rate FROM c, m)
        |SELECT d.doc_id, d.lang FROM documents d JOIN r ON d.lang IS NOT DISTINCT FROM r.stratum
        |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':bal'), 1, 8)) AS BIGINT) % 10000 < r.rate
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.rebalanceStrata(Tables.documents(s, d), "doc_id", "lang")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // Deterministic importance sampling: keep-probability proportional
    // to document length (the quality-weighted selection pattern),
    // decided by a ':smp'-salted md5-uniform — reproducible, engine-
    // identical, zero shuffle, and decorrelated from the hash split
    // and the rebalance sample by the salt.
    Q("q81_importance_sample",
      """WITH s AS (
        |  SELECT doc_id,
        |    least(1.0, CAST(n_chars AS DOUBLE) / 400.0) AS p,
        |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':smp'), 1, 8)) AS BIGINT) AS DOUBLE)
        |      / 4294967296.0 AS u
        |  FROM documents)
        |SELECT doc_id, p, u FROM s WHERE u < p ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.importanceSample(Tables.documents(s, d), "doc_id",
          col("n_chars").cast("double") / lit(400.0))
        .select("doc_id", "p", "u")
        .orderBy("doc_id")
    },

    // Hybrid retrieval: BM25 top-20 (lexical) fused with cosine top-20
    // around a query embedding (semantic) by reciprocal-rank fusion.
    // The fusion stage touches only the two top-k lists — all corpus-
    // scale work stays inside the bounded retrievers; the fused score
    // is a fixed-order chain of integer-derived divisions, so it
    // hash-matches bit-exactly.
    Q("q82_hybrid_rrf",
      Text.hybridRrfOracle) { (s, d) =>
      val lex = Ranking.boundedRowNumber(
          Retrieval.bm25(Tables.documents(s, d), "doc_id", "text",
            queryTerms = Seq("join", "stream", "window", "sort", "dup"), k = 20),
          "rank", desc("score"), col("doc_id"))
        .select(col("doc_id"), col("rank"))
      val emb = Tables.embeddings(s, d)
      val sem = Similarity.bruteForceTopK(
          emb, emb.where(col("vec_id") === 0), "vec_id", "embedding",
          k = 20, roundTo = 4)
        .select(col("neighbor_id").as("doc_id"), col("rank").cast("long").as("rank"))
      Retrieval.rrfFuse(Seq("lex" -> lex, "sem" -> sem), "doc_id", "rank", k = 10)
        .orderBy(desc("rrf"), col("doc_id"))
    },

    // q82 SERVED FROM THE STORED INDEX: the identical hybrid query —
    // same oracle string, so the equivalence is under the hash — with
    // the BM25 half reading per-term df from the incrementally
    // maintained q105 fold (80% base + 20% batch merged through the
    // IVM pair multiset) instead of recomputing df from the corpus.
    // The production retrieval shape: indexes refresh at O(batch) off
    // the feed, queries serve from them, and serving from the index
    // changes NOTHING in the answer.
    Q("q130_stored_df_hybrid", Text.hybridRrfOracle) { (s, d) =>
      val docs = Tables.documents(s, d)
      def toks(side: org.apache.spark.sql.DataFrame) = side.select(col("doc_id"),
        explode(TextFns.tokens(TextFns.normalize(col("text")))).as("term"))
      val stored = Incremental.distinctPartials(
        toks(docs.where(pmod(col("doc_id"), lit(10)) < 8)), Seq("term"), "doc_id")
      val dfT = Incremental.finalizeDistinct(
        Incremental.mergeDistinct(stored,
          Incremental.distinctPartials(
            toks(docs.where(pmod(col("doc_id"), lit(10)) >= 8)),
            Seq("term"), "doc_id"),
          Seq("term"), "doc_id"),
        Seq("term"), "df")
      val lex = Ranking.boundedRowNumber(
          Retrieval.bm25(docs, "doc_id", "text",
            queryTerms = Seq("join", "stream", "window", "sort", "dup"), k = 20,
            dfSource = Some(dfT)),
          "rank", desc("score"), col("doc_id"))
        .select(col("doc_id"), col("rank"))
      val emb = Tables.embeddings(s, d)
      val sem = Similarity.bruteForceTopK(
          emb, emb.where(col("vec_id") === 0), "vec_id", "embedding",
          k = 20, roundTo = 4)
        .select(col("neighbor_id").as("doc_id"), col("rank").cast("long").as("rank"))
      Retrieval.rrfFuse(Seq("lex" -> lex, "sem" -> sem), "doc_id", "rank", k = 10)
        .orderBy(desc("rrf"), col("doc_id"))
    },

    // The full LLM-corpus preprocessing pipeline as ONE Catalyst plan:
    // quality filter → language filter → exact dedup (keep-first) →
    // hash split → train-shard sequence packing. Every stage is an
    // existing oracle-checked operator; this entry proves they COMPOSE
    // (the library's real usage mode) and that the composition remains
    // hash-checkable end-to-end.
    Q("q70_corpus_pipeline",
      s"""WITH t0 AS (SELECT doc_id, text, $oTok AS toks FROM documents),
         |qm AS (SELECT doc_id, text,
         |    CAST(len(toks) AS BIGINT) AS nw,
         |    CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS sl,
         |    CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS BIGINT) AS ns
         |  FROM t0),
         |q AS (SELECT doc_id, text FROM qm WHERE
         |    CASE WHEN nw = 0 THEN 0.0 ELSE
         |      floor(((nw * least(nw, 100) * 2
         |              + CASE WHEN sl >= nw * 3 AND sl <= nw * 10 THEN nw * 150 ELSE 0 END
         |              + least(ns * 3, nw) * 150) * 20000 + nw * 500) / (nw * 1000)) / 10000.0
         |    END >= 0.5),
         |ltoks AS (SELECT doc_id, unnest($oTok) AS tok FROM documents),
         |dict(word, plang) AS (VALUES ${dictValues(langDict)}),
         |votes AS (SELECT doc_id, plang, count(*) AS cnt
         |  FROM ltoks JOIN dict ON tok = word GROUP BY doc_id, plang),
         |top AS (SELECT doc_id, plang,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, plang) AS rn
         |  FROM votes),
         |lang AS (SELECT d.doc_id FROM documents d
         |  LEFT JOIN top t ON d.doc_id = t.doc_id AND t.rn = 1
         |  WHERE coalesce(t.plang, 'und') = 'en'),
         |kept AS (SELECT q.doc_id, q.text FROM q JOIN lang USING (doc_id)),
         |fp AS (SELECT doc_id, text,
         |    row_number() OVER (PARTITION BY md5(lower(translate(text, ',;''', '   ')))
         |                       ORDER BY doc_id) AS rn
         |  FROM kept),
         |dd AS (SELECT doc_id, text FROM fp WHERE rn = 1),
         |tr AS (SELECT doc_id, text FROM dd
         |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80),
         |pk AS (SELECT doc_id, CAST(len($oTok) AS BIGINT) AS n_tokens,
         |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 8 AS INT) AS shard
         |  FROM tr),
         |cc AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
         |    - n_tokens AS strt FROM pk)
         |SELECT doc_id, n_tokens, shard,
         |  CAST(shard + (strt // 1024) * 8 AS BIGINT) AS seq_id,
         |  CAST(strt % 1024 AS BIGINT) AS tok_offset
         |FROM cc ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      // quality + language in ONE scan (corpusGate) — the fused
      // form of the quality ⋈ byKeywords pair this query originally
      // composed; the unchanged oracle is the fusion-correctness proof
      val gate = TextAnalysis.corpusGate(docs, "doc_id", "text",
          s.createDataFrame(langDict).toDF("word", "label"), "und")
        .where(col("quality_score") >= 0.5 && col("label") === "en")
        .select("doc_id")
      val kept = docs.join(gate, "doc_id")
      val deduped = Dedup.keepFirst(
        kept.withColumn("__fp", TextFns.fingerprint(col("text"))),
        Seq("__fp"), "doc_id")
      val train = TextAnalysis.hashSplit(deduped, "doc_id")
        .where(col("split") === "train")
      TextAnalysis.sequencePack(train, "doc_id", "text",
          budget = 1024, shards = 8)
        .orderBy("doc_id")
    },

    // Typed Aggregator UDAF (SURVEY §2.10): majority vote through the
    // Dataset/udaf path — per-source dominant language.
    Q("q56_majority_vote_udaf",
      """SELECT source, lang AS top_lang FROM (
        |  SELECT source, lang,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY count(*) DESC, lang) AS rn
        |  FROM documents GROUP BY source, lang)
        |WHERE rn = 1 ORDER BY source""".stripMargin) { (s, d) =>
      val vote = udaf(graft.functions.MajorityVote)
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(vote(col("lang")).as("top_lang"))
        .orderBy("source")
    },

    // Deterministic global corpus shuffle into training shards: salted
    // md5-uniform position key, shard = key mod n, pos = per-shard key
    // rank. Reading (shard, pos) order replays one fixed permutation —
    // the reproducible shuffle step between curation and packing. The
    // key is non-negative (15 hex nibbles < 2^60) so Spark pmod and
    // DuckDB % agree.
    Q("q95_corpus_shuffle",
      """WITH k AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5('shuf:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS key
        |  FROM documents)
        |SELECT doc_id, CAST(key % 8 AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY key % 8 ORDER BY key, doc_id) AS BIGINT) AS pos
        |FROM k ORDER BY shard, pos""".stripMargin) { (s, d) =>
      TextAnalysis.shuffleShards(Tables.documents(s, d), "doc_id", nShards = 8)
        .orderBy("shard", "pos")
    },

    // Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    // A-ES): exactly k docs, inclusion odds proportional to length —
    // the fixed-token-budget corpus-mixing primitive, vs q81's
    // Bernoulli keep (random output size). Score = ln(u)/w with the
    // libm-exact graft_ln, so the DOUBLE sort key hash-matches the
    // oracle bit-for-bit; TakeOrderedAndProject keeps O(k) state per
    // partition (the single-pass reservoir property).
    Q("q102_weighted_sample",
      """WITH s AS (
        |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS w,
        |    (CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':aes'), 1, 8)) AS BIGINT) AS DOUBLE)
        |      + 0.5) / 4294967296.0 AS u
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, w, ln(u) / w AS aes_key FROM s
        |ORDER BY aes_key DESC, doc_id LIMIT 100""".stripMargin) { (s, d) =>
      TextAnalysis.weightedSample(Tables.documents(s, d), "doc_id",
          col("n_chars"), k = 100)
        .select("doc_id", "w", "aes_key")
    },

    // Incremental near-dedup: an arriving 20% batch probed against
    // the 80% base's LSH band index — cross pairs only, base never
    // self-joined, per-side hot-bucket caps (the stored index is
    // capped at build time, before any batch exists). The MinHash/LSH
    // analogue of q96's exact Bloom path.
    Q("q103_neardup_vs_base", Text.incrementalNearDupOracle) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.nearDupsVsBase(
          docs.where(pmod(col("doc_id"), lit(10)) >= 8),
          docs.where(pmod(col("doc_id"), lit(10)) < 8),
          "doc_id", "text", shingleN = 5, numHashes = 12, bands = 4)
        .orderBy("id_new", "id_base")
    },

    // The q103 probe against a LAKE-STORED band index with a
    // manifest-declared BUCKET layout — the composition round 11
    // couldn't offer: the stored index gets OCC commits, time travel
    // and the change feed (lake) AND the shuffle-free probe
    // (bucketed scan exposes HashPartitioning(band,bkey → 4), so the
    // join reshuffles ONLY the batch's bands; BucketingSpec gates the
    // zero-exchange stored branch). Same oracle as q103: storing the
    // index must be invisible to the answer. At 100 TB this is the
    // standing near-dedup loop — the index table maintains
    // incrementally under multi-writer commits and every nightly
    // batch probes it at O(batch) with no index-side exchange.
    Q("q154_lake_bucketed_index", Text.incrementalNearDupOracle) { (s, d) =>
      val root = Lakehouse.scratchRoot("lake_bidx", d)
      val docs = Tables.documents(s, d)
      val base = docs.where(pmod(col("doc_id"), lit(10)) < 8)
      val batch = docs.where(pmod(col("doc_id"), lit(10)) >= 8)
      Lake.commitOverwrite(
        Dedup.bandIndex(base, "doc_id", "text",
          shingleN = 5, numHashes = 12, bands = 4),
        root, retain = 0, bucketBy = Some((4, Seq("band", "bkey"))))
      Dedup.nearDupsVsIndex(batch, Lake.readBucketed(s, root),
          "doc_id", "text", shingleN = 5, numHashes = 12, bands = 4)
        .orderBy("id_new", "id_base")
    },

    // Incremental retrieval-index maintenance: per-term document
    // frequencies (the stored half of every TF-IDF/BM25 index) are
    // exactly the q100 (term, doc) pair-multiset — df is a per-term
    // COUNT DISTINCT over docs — so the index folds batches with the
    // SAME IVM primitives: base pairs + batch pairs merge, df and the
    // doc count N derive at read time, idf = the q66 BM25 formula in
    // the oracle's exact association order (libm-exact ln). A doc
    // deletion is a weight = -1 fold of its own token stream. The
    // oracle recomputes df/idf over ALL docs from scratch.
    Q("q105_incremental_df",
      s"""WITH toks AS (SELECT doc_id, unnest($oTok) AS term FROM documents),
         |pres AS (SELECT DISTINCT doc_id, term FROM toks),
         |dfs AS (SELECT term, count(*) AS df FROM pres GROUP BY term),
         |n AS (SELECT count(*) AS n FROM documents)
         |SELECT term, df,
         |  ln((CAST(n.n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
         |     / (CAST(df AS DOUBLE) + 0.5) + 1.0) AS idf
         |FROM dfs, n ORDER BY term""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      def toks(side: org.apache.spark.sql.DataFrame) = side.select(col("doc_id"),
        explode(TextFns.tokens(TextFns.normalize(col("text")))).as("term"))
      val hist = docs.where(pmod(col("doc_id"), lit(10)) < 8)
      val batch = docs.where(pmod(col("doc_id"), lit(10)) >= 8)
      val stored = Incremental.distinctPartials(toks(hist), Seq("term"), "doc_id")
      val dfT = Incremental.finalizeDistinct(
        Incremental.mergeDistinct(stored,
          Incremental.distinctPartials(toks(batch), Seq("term"), "doc_id"),
          Seq("term"), "doc_id"),
        Seq("term"), "df")
      // N is a 1-row stored stat in production (folds as cnt + cnt,
      // the q98 machinery); here both sides come from one scan, so a
      // direct count keeps the plan at ONE one-row broadcast scalar
      // join — the q65/q66 whitelisted shape — instead of an extra
      // agg×agg nested-loop
      val n = broadcast(docs.agg(count(lit(1)).as("__n")))
      dfT.crossJoin(n)
        .withColumn("idf",
          graft.plans.GraftExtensions.ln(
            (col("__n").cast("double") - col("df").cast("double") + lit(0.5))
              / (col("df").cast("double") + lit(0.5)) + lit(1.0)))
        .select("term", "df", "idf")
        .orderBy("term")
    },

    // Segment-level exact dedup (the C4/RefinedWeb sub-document
    // granularity): identical 8-token segments are removed
    // corpus-wide (keep-first by doc_id, seg_idx) and each doc
    // reassembles from its survivors — boilerplate shared ACROSS
    // documents disappears where doc-level dedup (q34) sees two
    // distinct docs. Keep-first is one map-side-combinable
    // min(struct) per distinct segment, never a corpus window; a doc
    // losing every segment keeps its row with n_kept = 0 and NULL
    // deduped text in both engines.
    Q("q111_segment_dedup",
      s"""WITH toks AS (
         |  SELECT doc_id, $oTok AS tk FROM documents WHERE text IS NOT NULL),
         |segs AS (
         |  SELECT doc_id, i AS seg_idx,
         |    array_to_string(tk[(i*8+1):(i*8+8)], ' ') AS seg
         |  FROM (SELECT doc_id, tk,
         |          unnest(generate_series(0, CAST(ceil(len(tk) / 8.0) AS INT) - 1)) AS i
         |        FROM toks WHERE len(tk) > 0)),
         |rk AS (SELECT doc_id, seg_idx, seg,
         |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
         |  FROM segs)
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_segments,
         |  CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
         |  string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE rn = 1) AS text_deduped
         |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.segmentDedup(Tables.documents(s, d), "doc_id", "text",
          segTokens = 8)
        .orderBy("doc_id")
    })

  // ---- generated oracle SQL for the sketch operators -----------------

  /** DuckDB twin of Dedup.minhashLsh(5, 12, 4): one 32-bit md5-prefix
    * base hash per shingle, 12 `(a·h + b) mod P` permutations from the
    * SAME frozen coefficient list as the Spark side, plus the same
    * band-key frequency cap. */
  /** The CTE chain shared by [[minhashOracle]] and
    * [[nearDedupOracle]]: shingle hashes → 12 permutation minima → 4
    * band keys → frequency-capped (band, bkey) postings. */
  private lazy val minhashPairCtes: String = {
    val p = Dedup.minhashP
    val sigs = Dedup.minhashCoeffs.take(12).zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(hs, h -> ($a * h + $b) % $p)) AS h$i"
    }.mkString(",\n    ")
    val bandSelects = (0 until 4).map { b =>
      val cols = (b * 3 until (b + 1) * 3).map(i => s"h$i").mkString(", ")
      s"SELECT doc_id, $b AS band, CAST(('0x' || substr(md5(concat_ws('|', $cols)), 1, 15)) AS BIGINT) AS bkey FROM sigs"
    }.mkString("\n  UNION ALL ")
    s"""sh AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(
       |      generate_series(1, greatest(length(t) - 4, 1)),
       |      i -> CAST(('0x' || substr(md5(substr(t, i, 5)), 1, 8)) AS BIGINT))) AS hs
       |  FROM (SELECT doc_id, lower(translate(text, ',;''', '   ')) AS t FROM documents)
       |  WHERE len(hs) > 0),
       |sigs AS (
       |  SELECT doc_id,
       |    $sigs
       |  FROM sh),
       |banded AS (
       |  $bandSelects),
       |capped AS (
       |  SELECT doc_id, band, bkey FROM (
       |    SELECT doc_id, band, bkey, count(*) OVER (PARTITION BY band, bkey) AS f
       |    FROM banded)
       |  WHERE f <= 100)""".stripMargin
  }

  lazy val minhashOracle: String =
    s"""WITH $minhashPairCtes
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common_bands
       |FROM capped a JOIN capped b ON a.band = b.band AND a.bkey = b.bkey
       |WHERE a.doc_id < b.doc_id
       |GROUP BY 1, 2 ORDER BY id_a, id_b""".stripMargin

  /** The q41 CTE chain restricted to one side of a corpus split —
    * suffixed so base and batch pipelines coexist in one WITH, each
    * capped WITHIN ITS OWN SIDE (the per-side cap semantics of
    * `Dedup.nearDupsVsBase`). */
  /** DuckDB twin of q82 AND q130: BM25 over five query terms fused
    * with brute-force cosine by reciprocal rank. q130 must produce
    * the IDENTICAL result while serving df from the incrementally
    * maintained index — sharing one oracle string IS the equivalence
    * claim. */
  private[queries] lazy val hybridRrfOracle: String =
    s"""WITH toks AS (SELECT doc_id, unnest($oTok) AS term FROM documents),
         |hits AS (SELECT doc_id, term FROM toks
         |  WHERE term IN ('join','stream','window','sort','dup')),
         |qtf AS (SELECT doc_id, term, count(*) AS tf FROM hits GROUP BY doc_id, term),
         |dfs AS (SELECT term, count(*) AS df FROM qtf GROUP BY term),
         |dls AS (SELECT doc_id, CAST(coalesce(len($oTok), 0) AS BIGINT) AS dl FROM documents),
         |st AS (SELECT count(*) AS n, sum(dl) AS tl FROM dls),
         |sc AS (SELECT q.doc_id, d.dl,
         |   (ln((CAST(st.n AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5)
         |       / (CAST(f.df AS DOUBLE) + 0.5) + 1.0)
         |    * (CAST(q.tf AS DOUBLE) * (1.2 + 1.0)))
         |   / (CAST(q.tf AS DOUBLE) + (1.2 * ((1.0 - 0.75)
         |      + 0.75 * (CAST(d.dl AS DOUBLE)
         |                / (CAST(st.tl AS DOUBLE) / CAST(st.n AS DOUBLE)))))) AS c
         |  FROM qtf q JOIN dfs f USING (term) JOIN dls d USING (doc_id), st),
         |bm AS (SELECT doc_id, CAST(sum(CAST(c AS DECIMAL(27,12))) AS DOUBLE) AS score
         |  FROM sc GROUP BY doc_id, dl ORDER BY score DESC, doc_id LIMIT 20),
         |lexr AS (SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank_lex
         |  FROM bm),
         |qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
         |scored AS (SELECT c.vec_id AS doc_id,
         |    round(list_cosine_similarity(CAST(qv.v AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 4) AS cosine
         |  FROM embeddings c, qv WHERE c.vec_id <> 0),
         |semr AS (SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS BIGINT) AS rank_sem
         |  FROM scored ORDER BY cosine DESC, doc_id LIMIT 20),
         |f AS (SELECT coalesce(l.doc_id, r.doc_id) AS doc_id, l.rank_lex, r.rank_sem,
         |    coalesce(1.0 / (60.0 + CAST(l.rank_lex AS DOUBLE)), 0.0)
         |    + coalesce(1.0 / (60.0 + CAST(r.rank_sem AS DOUBLE)), 0.0) AS rrf
         |  FROM lexr l FULL OUTER JOIN semr r ON l.doc_id = r.doc_id)
         |SELECT doc_id, rank_lex, rank_sem, rrf FROM f
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin

  private def minhashSideCtes(sfx: String, where: String): String = {
    val p = Dedup.minhashP
    val sigs = Dedup.minhashCoeffs.take(12).zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(hs, h -> ($a * h + $b) % $p)) AS h$i"
    }.mkString(",\n    ")
    val bandSelects = (0 until 4).map { b =>
      val cols = (b * 3 until (b + 1) * 3).map(i => s"h$i").mkString(", ")
      s"SELECT doc_id, $b AS band, CAST(('0x' || substr(md5(concat_ws('|', $cols)), 1, 15)) AS BIGINT) AS bkey FROM sigs_$sfx"
    }.mkString("\n  UNION ALL ")
    s"""sh_$sfx AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(
       |      generate_series(1, greatest(length(t) - 4, 1)),
       |      i -> CAST(('0x' || substr(md5(substr(t, i, 5)), 1, 8)) AS BIGINT))) AS hs
       |  FROM (SELECT doc_id, lower(translate(text, ',;''', '   ')) AS t
       |        FROM documents WHERE $where)
       |  WHERE len(hs) > 0),
       |sigs_$sfx AS (
       |  SELECT doc_id,
       |    $sigs
       |  FROM sh_$sfx),
       |banded_$sfx AS (
       |  $bandSelects),
       |capped_$sfx AS (
       |  SELECT doc_id, band, bkey FROM (
       |    SELECT doc_id, band, bkey, count(*) OVER (PARTITION BY band, bkey) AS f
       |    FROM banded_$sfx)
       |  WHERE f <= 100)""".stripMargin
  }

  /** DuckDB twin of Dedup.nearDupsVsBase over the 80/20 split. */
  lazy val incrementalNearDupOracle: String =
    s"""WITH ${minhashSideCtes("base", "doc_id % 10 < 8")},
       |${minhashSideCtes("new", "doc_id % 10 >= 8")}
       |SELECT n.doc_id AS id_new, b.doc_id AS id_base, count(*) AS n_common_bands
       |FROM capped_new n JOIN capped_base b ON n.band = b.band AND n.bkey = b.bkey
       |GROUP BY 1, 2 ORDER BY id_new, id_base""".stripMargin

  /** DuckDB twin of Dedup.nearDedupCorpus(5, 12, 4, cap 100, ≥1 band):
    * the q41 candidate pairs closed into components by recursive
    * reachability, every non-minimum member dropped, survivors
    * returned. NOT EXISTS (not NOT IN) so a NULL doc_id survives —
    * matching Spark left_anti's never-matching NULL key. */
  lazy val nearDedupOracle: String =
    s"""WITH RECURSIVE
       |$minhashPairCtes,
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM capped a JOIN capped b ON a.band = b.band AND a.bkey = b.bkey
       |  WHERE a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM pairs),
       |reach AS (
       |  SELECT src AS id, src AS comp FROM edges
       |  UNION
       |  SELECT e.src AS id, r.comp FROM edges e JOIN reach r ON r.id = e.dst),
       |dropped AS (
       |  SELECT id FROM reach GROUP BY id HAVING id <> min(comp))
       |SELECT d.doc_id, d.source, d.lang, d.text FROM documents d
       |WHERE NOT EXISTS (SELECT 1 FROM dropped x WHERE x.id = d.doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** DuckDB twin of Dedup.ngramJaccard(3, 0.5, 100) — same 60-bit
    * md5-prefix shingle hashing as the Spark side. */
  lazy val jaccardOracle: String =
    s"""WITH t AS (SELECT doc_id AS id, $oTok AS toks FROM documents),
       |sh AS (
       |  SELECT id, list_distinct(list_transform(generate_series(1, len(toks) - 2),
       |           i -> CAST(('0x' || substr(md5(array_to_string(list_slice(toks, i, i + 2), ' ')), 1, 15)) AS BIGINT))) AS sh
       |  FROM t WHERE len(toks) >= 3),
       |inv AS (SELECT id, unnest(sh) AS s FROM sh),
       |capped AS (
       |  SELECT id, s FROM (
       |    SELECT id, s, count(*) OVER (PARTITION BY s) AS f FROM inv)
       |  WHERE f <= 100),
       |sized AS (SELECT id, count(*) AS n FROM capped GROUP BY id),
       |pairs AS (
       |  SELECT x.id AS id_a, y.id AS id_b, count(*) AS common
       |  FROM capped x JOIN capped y ON x.s = y.s
       |  WHERE x.id < y.id GROUP BY 1, 2)
       |SELECT p.id_a, p.id_b, p.common, a.n AS n_a, b.n AS n_b,
       |  CAST(p.common AS DOUBLE) / (a.n + b.n - p.common) AS jaccard
       |FROM pairs p
       |JOIN sized a ON p.id_a = a.id
       |JOIN sized b ON p.id_b = b.id
       |WHERE CAST(p.common AS DOUBLE) / (a.n + b.n - p.common) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  /** DuckDB twin of TextAnalysis.redactPii — same pattern list (RE2
    * and Java regex agree on these POSIX-class patterns), 'g' flag for
    * Spark's replace-all default; counts are per-stage ACTUAL match
    * counts (len(regexp_extract_all)) on the same intermediate strings
    * the Spark side counts, so pre-existing literal tags in the corpus
    * cannot inflate either side. */
  lazy val piiOracle: String = {
    val stages = TextAnalysis.piiPatterns.scanLeft("text") {
      case (c, (re, tag)) => s"regexp_replace($c, '$re', '$tag', 'g')"
    }
    val redacted = stages.last
    val counts = TextAnalysis.piiPatterns.zip(stages.init).map {
      case ((re, _), pre) => s"len(regexp_extract_all($pre, '$re'))"
    }.mkString(" + ")
    s"""SELECT doc_id, $redacted AS redacted,
       |  CAST($counts AS BIGINT) AS n_redactions
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** DuckDB twin of Dedup.crossOverlap(src≠src0 vs src0, 3-grams,
    * ≥5 common, cap 100) — same 60-bit shingle hashing as q42. */
  lazy val contaminationOracle: String =
    s"""WITH t AS (SELECT doc_id, source, $oTok AS toks FROM documents),
       |sh AS (
       |  SELECT doc_id, source,
       |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
       |      i -> CAST(('0x' || substr(md5(array_to_string(list_slice(toks, i, i + 2), ' ')), 1, 15)) AS BIGINT))) AS sh
       |  FROM t WHERE len(toks) >= 3),
       |cinv AS (SELECT doc_id AS corpus_id, unnest(sh) AS s FROM sh WHERE source <> 'src0'),
       |ccapped AS (
       |  SELECT corpus_id, s FROM (
       |    SELECT corpus_id, s, count(*) OVER (PARTITION BY s) AS f FROM cinv)
       |  WHERE f <= 100),
       |binv AS (SELECT doc_id AS bench_id, unnest(sh) AS s FROM sh WHERE source = 'src0')
       |SELECT c.corpus_id, b.bench_id, count(*) AS common
       |FROM ccapped c JOIN binv b ON c.s = b.s
       |GROUP BY 1, 2 HAVING count(*) >= 5
       |ORDER BY corpus_id, bench_id""".stripMargin

  /** Shared CTE chain computing the 32-bit SimHash fingerprint per
    * document — DuckDB twin of Dedup.simhash; used by both the q43
    * fingerprint dump and the q44 Hamming pairing. */
  private lazy val simhashFpCtes: String = {
    val bitTerms = (0 until 32).map { b =>
      s"""CASE WHEN coalesce(list_sum(list_transform(hs,
         |  h -> CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
         |  THEN CAST(1 AS BIGINT) << $b ELSE 0 END""".stripMargin.replaceAll("\n", " ")
    }.mkString(" +\n    ")
    s"""t AS (SELECT doc_id, $oTok AS toks FROM documents),
       |h AS (
       |  SELECT doc_id,
       |    list_transform(toks,
       |      tk -> CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT)) AS hs
       |  FROM t),
       |fp AS (
       |  SELECT doc_id,
       |    CAST($bitTerms AS BIGINT) AS simhash
       |  FROM h)""".stripMargin
  }

  /** DuckDB twin of Dedup.simhash over 32 bits. */
  lazy val simhashOracle: String =
    s"""WITH $simhashFpCtes
       |SELECT doc_id, simhash FROM fp ORDER BY doc_id""".stripMargin

  /** DuckDB twin of Dedup.connectedComponents over the q44 pairs:
    * recursive reachability closure + min — the declarative fixpoint
    * the iterative min-label propagation converges to. */
  lazy val clustersOracle: String =
    s"""WITH RECURSIVE
       |pairs AS ($simhashPairsOracle),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM pairs),
       |reach AS (
       |  SELECT src AS id, src AS comp FROM edges
       |  UNION
       |  SELECT e.src AS id, r.comp FROM edges e JOIN reach r ON r.id = e.dst)
       |SELECT id AS doc_id, min(comp) AS cluster_id FROM reach
       |GROUP BY id ORDER BY doc_id""".stripMargin

  /** DuckDB twin of Dedup.simhashHammingPairs(32, 4 bands, ≤3, cap
    * 100): identical byte-band keys and bit_count(xor) arithmetic. */
  lazy val simhashPairsOracle: String =
    s"""WITH $simhashFpCtes,
       |banded AS (
       |  SELECT doc_id, simhash, band, (simhash >> (band * 8)) & 255 AS bkey
       |  FROM fp CROSS JOIN (VALUES (0), (1), (2), (3)) AS bands(band)),
       |capped AS (
       |  SELECT doc_id, simhash, band, bkey FROM (
       |    SELECT doc_id, simhash, band, bkey,
       |      count(*) OVER (PARTITION BY band, bkey) AS f
       |    FROM banded)
       |  WHERE f <= 100),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |  FROM capped a JOIN capped b ON a.band = b.band AND a.bkey = b.bkey
       |  WHERE a.doc_id < b.doc_id)
       |SELECT id_a, id_b, hamming FROM cand
       |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin

  /** q137 oracle: BPE training unrolled as 10 materialized CTE steps
    * — w0 is the `[a-z0-9]+` word-type table with each token's
    * wrapped-symbol encoding `(c)(c)...`; step i picks the
    * max-weight adjacent pair (weight = Σ type count per occurrence,
    * tie (a ASC, b ASC)) and applies it as the same boundary-exact
    * literal replace the engine runs. MATERIALIZED is load-bearing:
    * inlined CTEs would re-evaluate the chain exponentially. */
  // `final` + literal = a compile-time constant, safe to reference
  // from `all`'s initializer above (a plain val here would still be 0
  // during the catalog's own object-init evaluation)
  private final val bpeNMerges = 10

  /** The shared BPE-training CTE block (see [[bpeOracle]]). */
  private def bpeTrainingCtes: String = {
    val w0 =
      s"""w0 AS MATERIALIZED (
         |  SELECT token, count(*) AS cnt,
         |    regexp_replace(token, '(.)', '(\\1)', 'g') AS enc
         |  FROM (SELECT unnest($oTok) AS token FROM documents)
         |  WHERE regexp_full_match(token, '[a-z0-9]+')
         |  GROUP BY token)""".stripMargin
    val steps = (1 to bpeNMerges).flatMap { i =>
      Seq(
        s"""b$i AS MATERIALIZED (
           |  SELECT sym[s.i] AS a, sym[s.i + 1] AS b
           |  FROM (SELECT cnt, string_split(trim(enc, '()'), ')(') AS sym
           |        FROM w${i - 1}),
           |       unnest(generate_series(1, len(sym) - 1)) AS s(i)
           |  GROUP BY a, b ORDER BY sum(cnt) DESC, a, b LIMIT 1)""".stripMargin,
        s"""w$i AS MATERIALIZED (
           |  SELECT w.token, w.cnt,
           |    replace(w.enc, '(' || m.a || ')(' || m.b || ')',
           |      '(' || m.a || m.b || ')') AS enc
           |  FROM w${i - 1} w, b$i m)""".stripMargin)
    }
    (w0 +: steps).mkString(",\n")
  }

  private[queries] def bpeOracle: String =
    s"""WITH $bpeTrainingCtes,
       |enc AS (SELECT doc_id, unnest($oTok) AS token,
       |    generate_subscripts($oTok, 1) AS pos FROM documents),
       |pieces AS (
       |  SELECT e.doc_id, e.pos, e.token,
       |    string_split(trim(w.enc, '()'), ')(') AS sym
       |  FROM enc e JOIN w$bpeNMerges w USING (token))
       |SELECT doc_id, CAST(pos AS BIGINT) AS pos, token,
       |  CAST(generate_subscripts(sym, 1) AS BIGINT) AS piece_pos,
       |  unnest(sym) AS piece
       |FROM pieces ORDER BY doc_id, pos, piece_pos""".stripMargin

  /** q139 oracle: per-document SUBWORD counts from the trained
    * encodings, then q64's sharded prefix-sum pack over those counts
    * (budget 512 pieces). Docs with no in-alphabet tokens pack with
    * count 0 — they still hold a stream position. */
  private[queries] def bpePackOracle: String =
    s"""WITH $bpeTrainingCtes,
       |enc AS (SELECT doc_id, unnest($oTok) AS token FROM documents),
       |tokcnt AS (
       |  SELECT e.doc_id,
       |    CAST(sum(len(string_split(trim(w.enc, '()'), ')('))) AS BIGINT) AS n
       |  FROM enc e JOIN w$bpeNMerges w USING (token) GROUP BY e.doc_id),
       |t AS (
       |  SELECT d.doc_id, coalesce(tc.n, 0) AS n_tokens,
       |    CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 8 AS INT) AS shard
       |  FROM documents d LEFT JOIN tokcnt tc ON d.doc_id = tc.doc_id),
       |c AS (
       |  SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
       |    - n_tokens AS strt
       |  FROM t)
       |SELECT doc_id, n_tokens, shard,
       |  CAST(shard + (strt // 512) * 8 AS BIGINT) AS seq_id,
       |  CAST(strt % 512 AS BIGINT) AS tok_offset
       |FROM c ORDER BY doc_id""".stripMargin
}
