package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFns
import graft.plans.GraftExtensions

/** Corpus-level text analysis: quality scoring, language ID, token
  * statistics — the LLM-pipeline generalization of the reference's
  * text handling (normalize/tokenize at
  * /root/reference/dags/Transform.py:15-17).
  *
  * Everything is built-in-function composition or a native
  * expression (zero UDFs). [[quality]] runs one per-document kernel;
  * the other hot per-token paths run as codegen'd explode +
  * HashAggregate rather than interpreted array HOFs — shuffles move
  * per-doc counters, never tokens or document bytes.
  */
object TextAnalysis {

  /** Tiny per-language stopword lists for the n-gram/stopword-overlap
    * language heuristic. Deliberately small and inlined — a real
    * deployment swaps in a broadcast dictionary. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "un", "une", "est", "dans"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "nicht", "mit", "von"),
    "es" -> Seq("el", "la", "los", "de", "y", "un", "una", "es", "en", "que"))

  /** Quality metrics per row: length, word stats, punctuation and
    * stopword ratios, and a composite [0,1] score. Tokens are
    * `TextFns.tokens(TextFns.normalize(text))`; NULL text has no
    * tokens and NULL `n_chars` and `punct_ratio`.
    *
    * One projection over the [[graft.plans.QualityStats]] kernel, which
    * counts a document's characters, punctuation, tokens, token
    * lengths and stopwords in one pass and scores them: no row per
    * token, no aggregate, no shuffle, so the output keeps the input's
    * partitioning. Each row is scored on its own; when ids are unique
    * (every catalog caller keys on a unique `doc_id`) that equals
    * pooling the text that shares an id.
    *
    * All rounded ratios use exact integer arithmetic (half-up rational
    * rounding: floor((20000·num + den) / (2·den)) / 10⁴) rather than
    * `round(double, 4)` — double rounding at a `.xxxx5` tie is
    * engine-dependent (Spark rounds the exact binary expansion via
    * BigDecimal; DuckDB rounds a double product), so float rounding
    * cannot hash-match an oracle. Integer-exact rounding is also the
    * scale-safe choice: bit-identical regardless of partitioning. */
  def quality(df: DataFrame, idCol: String, textCol: String): DataFrame =
    qualityWith(df, idCol, textCol)

  /** [[quality]], with `extra` columns of the document row appended. */
  private def qualityWith(
      df: DataFrame, idCol: String, textCol: String, extra: Column*): DataFrame = {
    val q = df.select(Seq(col(idCol),
      GraftExtensions.qualityStats(col(textCol), stopwords("en")).as("__q")) ++ extra: _*)
    q.select(Seq(col(idCol), col("__q.*")) ++ q.columns.drop(2).map(col): _*)
  }

  /** Quality metrics AND keyword-vote label in ONE scan — the corpus
    * gate a preprocessing pipeline runs before anything else. Running
    * [[quality]] and [[Classify.byKeywords]] separately scans the
    * corpus twice; at 100 TB the text scan IS the cost, so the gate
    * pays it once.
    *
    * The label is [[Classify.vote]] on the document row (the same
    * per-row kernel as byKeywords), evaluated in the same projection as
    * [[quality]]'s kernel: map-only, one row per input row.
    *
    * Output: [[quality]]'s columns plus `label`; equal to
    * quality ⋈ byKeywords on a unique id (q70's oracle is the proof).
    */
  def corpusGate(
      df: DataFrame, idCol: String, textCol: String,
      dict: DataFrame, // columns: word STRING, label STRING
      default: String): DataFrame =
    qualityWith(df, idCol, textCol, Classify.vote(col(textCol), dict, default).as("label"))

  /** Overlapping fixed-size token chunks — the passage-extraction step
    * a retrieval/embedding pipeline runs before encoding (windows of
    * `chunkTokens` tokens every `strideTokens`, so consecutive chunks
    * overlap by `chunkTokens - strideTokens`).
    *
    * Chunk starts are 0, stride, 2·stride, … with the last start
    * chosen so every token is covered exactly once past the overlap:
    * k runs to ceil(max(n − chunk, 0) / stride), the final chunk may
    * be short, token-less docs emit nothing. All arithmetic is
    * integer (ceil as (x + stride − 1) div stride), so the chunk grid
    * is engine-portable.
    *
    * Scale shape: one scan, one Generate — the token array is
    * materialized once per doc and CARRIED through the explode (array
    * data, not a sibling projection that CollapseProject would
    * re-inline per generated row), each output row slicing the carried
    * array. Map-only: no shuffle at all; chunk rows inherit the scan's
    * partitioning.
    *
    * @return (id, chunk_id, start_tok [1-based], n_tok, chunk_text) */
  def chunkDocuments(
      df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, strideTokens: Int): DataFrame = {
    require(chunkTokens >= 1, "chunkTokens must be >= 1")
    require(strideTokens >= 1 && strideTokens <= chunkTokens,
      "strideTokens must be in [1, chunkTokens]")
    val toks = TextFns.tokens(TextFns.normalize(col(textCol)))
    val n = size(col("__toks")).cast("long")
    // integral `div`, not Column.divide: divide is IEEE double
    // division (exact only below 2^53) — div keeps the grid arithmetic
    // genuinely integer at any magnitude, as the oracle's `//` is
    val lastK = expr(s"(greatest(cast(size(__toks) AS BIGINT) - $chunkTokens, 0)"
      + s" + ${strideTokens - 1}) div $strideTokens")
    val start = (col("__k") * strideTokens + 1).cast("long")
    ShuffleWidth.widen(df)
      .select(col(idCol), toks.as("__toks"))
      .where(size(col("__toks")) >= 1)
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0L), lastK)).as("__k"))
      .select(
        col(idCol),
        col("__k").as("chunk_id"),
        start.as("start_tok"),
        least(lit(chunkTokens.toLong), n - col("__k") * strideTokens).as("n_tok"),
        concat_ws(" ",
          slice(col("__toks"), start.cast("int"), lit(chunkTokens))).as("chunk_text"))
  }

  /** Statistical quality score from a corpus-trained unigram language
    * model: per-document negative log-likelihood under the corpus's
    * own token distribution — the KenLM-style perplexity filter
    * reduced to its order-0 form (high NLL = tokens the corpus finds
    * surprising = gibberish/noise candidates; token-less docs emit no
    * row).
    *
    * Two passes over the token stream are inherent (train the
    * statistics, then score against them) — the standard shape for any
    * score-by-corpus-statistics operator. The vocabulary is NOT
    * broadcast: at corpus scale it does not fit, so scoring joins
    * token-to-vocab on the token key (AQE's skew split handles the
    * stopword heads), and the per-doc aggregate ships one counter row
    * per doc.
    *
    * Cross-engine exactness: each token's log-probability is floored
    * to integer MICRO-NATS — `floor(ln(cnt/total)·1e6)` — before
    * summation. `ln` is the libm-exact [[graft.plans.GraftExtensions.ln]]
    * on an exact-integer-derived double, so the doubles are
    * bit-identical across engines, the floor is exact, and the sums
    * are integer — order-independent under any partitioning, no
    * rounded-double-in-a-sum hazard.
    *
    * @return (id, n_tokens, nll_micro, mean_nll) */
  def unigramNll(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = ShuffleWidth.widen(df)
      .select(col(idCol),
        explode(TextFns.tokens(TextFns.normalize(col(textCol)))).as("__tok"))
    val vocab = toks.groupBy(col("__tok")).agg(count(lit(1)).as("__cnt"))
    val total = vocab.agg(sum(col("__cnt")).as("__tot"))
    toks.join(vocab, "__tok")
      .crossJoin(broadcast(total))
      .select(col(idCol),
        floor(graft.plans.GraftExtensions.ln(
          col("__cnt").cast("double") / col("__tot").cast("double")) * 1e6)
          .cast("long").as("__micro"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), (-sum(col("__micro"))).as("nll_micro"))
      .withColumn("mean_nll",
        col("nll_micro").cast("double") /
          (col("n_tokens") * 1000000L).cast("double"))
  }

  /** Interpolated bigram-LM NLL — the stronger fluency score above
    * [[unigramNll]]: every token TRANSITION (positions 2..n) is scored
    * with `p = λ·p_bigram + (1−λ)·p_unigram` where
    * `p_bigram = count(prev,cur) / count(prev as context)` and
    * `p_unigram` is the corpus-wide token frequency (so `p > 0` always —
    * the unigram side covers every observed token and no extra
    * smoothing mass is needed). Repetitive/templated text scores low
    * NLL; incoherent token soup scores high — the standard
    * perplexity-style corpus-quality filter, one model order up.
    *
    * Scale + parity shape (same contract as unigramNll):
    *  - bigrams are extracted MAP-SIDE from each token array (indexed
    *    `transform`, no self-join on position); the corpus-sized
    *    streams that shuffle afterwards are fixed-width (id, prev, cur)
    *    rows;
    *  - count tables aggregate with map-side partials; the one-row
    *    grand total broadcasts in;
    *  - per-transition score = two integer-derived divisions, two
    *    multiplications by the λ literals and one fixed-order add, then
    *    the libm-exact `graft_ln`, floored to integer MICRO-nats —
    *    per-doc sums are integer, order-independent, engine-identical.
    *
    * Docs with < 2 tokens have no transitions and emit no row (the
    * `unigramNll` convention for token-free docs).
    * @return (id, n_transitions, nll_micro, mean_nll) */
  def bigramNll(
      df: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.75): DataFrame = {
    require(lambda > 0.0 && lambda < 1.0, s"lambda must be in (0,1): $lambda")
    val t = ShuffleWidth.widen(df)
      .select(col(idCol),
        TextFns.tokens(TextFns.normalize(col(textCol))).as("__t"))
    val uni = t.select(explode(col("__t")).as("__tok"))
      .groupBy(col("__tok")).agg(count(lit(1)).as("__uc"))
    val total = uni.agg(sum(col("__uc")).as("__tot"))
    val bi = t.where(size(col("__t")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(slice(__t, 1, size(__t) - 1), (x, i) -> " +
          "struct(x AS prev, __t[i + 1] AS cur))")).as("__b"))
      .select(col(idCol), col("__b.prev").as("__prev"), col("__b.cur").as("__cur"))
    val cb = bi.groupBy(col("__prev"), col("__cur")).agg(count(lit(1)).as("__cb"))
    val cu = bi.groupBy(col("__prev")).agg(count(lit(1)).as("__cu"))
    bi
      .join(cb, Seq("__prev", "__cur"))
      .join(cu, Seq("__prev"))
      .join(uni, bi("__cur") === uni("__tok"))
      .crossJoin(broadcast(total))
      .select(col(idCol),
        floor(graft.plans.GraftExtensions.ln(
          lit(lambda) * (col("__cb").cast("double") / col("__cu").cast("double"))
            + lit(1.0 - lambda) *
              (col("__uc").cast("double") / col("__tot").cast("double"))) * 1e6)
          .cast("long").as("__micro"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_transitions"),
        (-sum(col("__micro"))).as("nll_micro"))
      .withColumn("mean_nll",
        col("nll_micro").cast("double") /
          (col("n_transitions") * 1000000L).cast("double"))
  }

  /** Per-group quota cap: keep the `n` smallest `orderCol` rows of
    * every `groupCol` group — the per-domain document cap a
    * crawl-curation pipeline applies so no single domain dominates the
    * corpus. Deterministic survivor rule (order asc, same as
    * [[graft.operators.Dedup.keepFirst]]).
    *
    * One shuffle on the group key; within a group the window sorts
    * that group's slice. A pathologically hot group concentrates its
    * sort on one task — AQE's skew handling splits the EXCHANGE but
    * not a window partition, so for adversarial skew compose with the
    * frequency-cap/salting tools in [[graft.operators.Skew]]. */
  def capPerGroup(
      df: DataFrame, groupCol: String, orderCol: String, n: Int): DataFrame = {
    require(n >= 1, "n must be >= 1")
    df.withColumn("__rn",
        row_number().over(
          Window.partitionBy(col(groupCol)).orderBy(col(orderCol))))
      .where(col("__rn") <= n)
      .drop("__rn")
  }

  /** Stopword-overlap language ID: count token hits per language list,
    * argmax with deterministic tie-break, 'und' (undetermined) when no
    * list matches. */
  def languageId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextFns.tokens(TextFns.normalize(col(textCol)))
    // tie-break: the struct sorts desc on (hits, -langIdx), and langIdx
    // follows lang-name asc order, so -langIdx desc == lang asc — the
    // SAME tie order as the explode+argmax form the query layer uses
    // (hits desc, lang asc). The lang string rides in third position for
    // output only; with distinct indices the sort never reaches it.
    val scores = stopwords.toSeq.sortBy(_._1).zipWithIndex.map {
      case ((lang, words), i) =>
        struct(
          size(filter(toks, t => t.isin(words.map(lit): _*))).as("hits"),
          lit(-i).as("nlang"),
          lit(lang).as("lang"))
    }
    val best = sort_array(array(scores: _*), asc = false).getItem(0)
    df.select(
      col(idCol),
      when(best.getField("hits") > 0, best.getField("lang"))
        .otherwise(lit("und")).as("pred_lang"))
  }

  /** Token frequency: top-k tokens with counts — the basic corpus
    * statistic (vocab head). */
  def topTokens(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(TextFns.tokens(TextFns.normalize(col(textCol)))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("token"))
      .limit(k)

  /** Repetition ratio: the share of a document's n-grams taken by its
    * single most-repeated n-gram — high values flag boilerplate, spam,
    * and degenerate generations. Ratio uses the repo's exact
    * integer half-up rounding (engine-portable, see [[quality]]).
    * @return (idCol, max_ngram_cnt, n_ngrams, repetition_ratio) */
  def repetitionRatio(
      df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val grams = ShuffleWidth.widen(df)
      .select(col(idCol),
        TextFns.tokens(TextFns.normalize(col(textCol))).as("__toks"))
      .where(size(col("__toks")) >= n)
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(1), size(col("__toks")) - (n - 1))).as("__i"))
      .select(col(idCol),
        concat_ws(" ", slice(col("__toks"), col("__i"), lit(n))).as("g"))
    val stats = grams.groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(max(col("c")).as("max_ngram_cnt"), sum(col("c")).as("n_ngrams"))
      .withColumn("repetition_ratio",
        floor((col("max_ngram_cnt") * 20000 + col("n_ngrams")) /
          (col("n_ngrams") * 2)) / 10000.0)
    df.select(col(idCol)).join(stats, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("max_ngram_cnt"), lit(0L)).as("max_ngram_cnt"),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("repetition_ratio"), lit(0.0)).as("repetition_ratio"))
  }

  /** Weighted corpus mixing: deterministically subsample each source
    * at its own rate — how a training mix is composed ("keep 100% of
    * wiki, 30% of crawl"). Reuses the md5-bucket mechanism of
    * [[hashSplit]], so the kept set is reproducible, stable under
    * corpus growth, and independent of partitioning; the weights
    * table is broadcast. Sources absent from `weights` default to
    * keep-everything (weight 100).
    * @param weights (source, pct) rows, pct in [0,100]
    * @return input rows whose md5(id) bucket < their source's pct */
  def mixCorpus(
      df: DataFrame, idCol: String, sourceCol: String,
      weights: DataFrame): DataFrame = {
    // ':mix'-salted bucket, NOT the raw hashSplit bucket: sharing the
    // hash would correlate the two decisions perfectly — a source mixed
    // at pct ≤ 80 would contribute ONLY train-split rows (hashSplit
    // sends buckets < 80 to train), starving valid/test of every
    // downsampled source. The salt makes mixing independent of
    // splitting while staying deterministic and growth-stable.
    val bucket = conv(substring(md5(
      concat(col(idCol).cast("string"), lit(":mix"))), 1, 8), 16, 10)
      .cast("long") % 100
    val w = broadcast(weights.select(
      col("source").as("__wsrc"), col("pct").as("__wpct")))
    df.join(w, df(sourceCol) === col("__wsrc"), "left")
      .where(bucket < coalesce(col("__wpct"), lit(100L)))
      .drop("__wsrc", "__wpct")
  }

  /** Token-budget corpus mixing — the EXACT-budget complement of
    * [[mixCorpus]]'s rate-based sampling: each source contributes
    * documents in a deterministic salted-hash priority order until its
    * cumulative token count reaches `budgetTokens`, so the mix lands
    * within one document of the budget regardless of corpus size
    * (rates only hit a budget in expectation). The priority is the
    * ':budget'-salted md5 permutation (independent of
    * [[hashSplit]]/[[mixCorpus]] decisions, stable under corpus
    * growth: new documents insert into the order without reshuffling
    * survivors' priorities).
    *
    * The cumulative sum is the [[Ranking.rankByScore]] skew shape in
    * prefix-sum form: a per-source window would serialize a dominant
    * source through one reducer, so rows bucket by their priority's
    * TOP BITS (bucket order consistent with priority order by
    * construction), the running sum runs inside each (source, bucket)
    * partition, and per-bucket offsets come from a sources × 64-row
    * totals table (broadcast back). Exactly equal to the naive
    * per-source running sum — the oracle computes that form.
    * @return (idCol, sourceCol, n_tokens, cum_tokens) — kept rows
    *         with their running totals, cum_tokens <= budgetTokens */
  def tokenBudgetMix(
      df: DataFrame, idCol: String, sourceCol: String, textCol: String,
      budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    require(!df.columns.exists(Seq("__pri", "__b", "__off", "__bt").contains),
      "input must not already carry __pri/__b/__off/__bt columns")
    val base = df.select(
      col(idCol), col(sourceCol),
      coalesce(size(TextFns.tokens(TextFns.normalize(col(textCol)))), lit(0))
        .cast("long").as("n_tokens"),
      conv(substring(md5(
        concat(col(idCol).cast("string"), lit(":budget"))), 1, 8), 16, 10)
        .cast("long").as("__pri"))
    // 64 ordered buckets from the priority's top bits: pri_a < pri_b
    // implies bucket_a <= bucket_b, so bucket-then-priority order IS
    // priority order and the two-phase sum telescopes exactly
    val withB = base.withColumn("__b", shiftright(col("__pri"), 26))
    val offs = withB.groupBy(col(sourceCol), col("__b"))
      .agg(sum(col("n_tokens")).as("__bt"))
      .withColumn("__off",
        coalesce(
          sum(col("__bt")).over(
            Window.partitionBy(col(sourceCol)).orderBy(col("__b"))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col(sourceCol), col("__b"), col("__off"))
    val w = Window.partitionBy(col(sourceCol), col("__b"))
      .orderBy(col("__pri"), col(idCol))
    withB.join(broadcast(offs), Seq(sourceCol, "__b"))
      .withColumn("cum_tokens",
        sum(col("n_tokens")).over(w.rowsBetween(Window.unboundedPreceding, 0))
          + col("__off"))
      .where(col("cum_tokens") <= budgetTokens)
      .select(col(idCol), col(sourceCol), col("n_tokens"), col("cum_tokens"))
  }

  /** Stratified rebalancing: deterministically downsample every
    * stratum (class/language/source) to ≈ the size of the smallest one
    * — the class-balancing step before training on skewed data. Unlike
    * [[mixCorpus]] the keep-rates are DERIVED from the data: one
    * map-side-combined count per stratum and a one-row min, both
    * broadcast back, so the corpus itself never shuffles — selection
    * is a map-only filter. The ':bal'-salted md5 bucket keeps the
    * decision independent of [[hashSplit]]/[[mixCorpus]] (sharing the
    * hash would correlate the selections) while staying reproducible
    * across runs, engines, and partitionings, and stable under corpus
    * growth within a stratum's existing rows.
    *
    * Rates are exact-integer permyriad: `rate = (min·10⁴) div cnt`
    * (integral `div`, no float division), so the kept fraction is
    * bit-identical in the DuckDB oracle. The result size per stratum
    * is ≈ min (hash-binomial, not exact-n — the price of a map-only,
    * join-free selection; an exact-n variant would need a per-stratum
    * rank window, one more shuffle).
    * @return input rows that survive the rebalance */
  def rebalanceStrata(df: DataFrame, idCol: String, stratumCol: String): DataFrame = {
    val counts = df.groupBy(col(stratumCol).as("__stratum"))
      .agg(count(lit(1)).as("__cnt"))
    val target = counts.agg(min(col("__cnt")).as("__min"))
    val rates = counts.crossJoin(broadcast(target))
      .select(col("__stratum"),
        expr("__min * 10000 div __cnt").as("__rate"))
    val bucket = conv(substring(md5(
      concat(col(idCol).cast("string"), lit(":bal"))), 1, 8), 16, 10)
      .cast("long") % 10000
    // null-SAFE join: groupBy above counts a NULL stratum as its own
    // stratum (it can even be the min that sets the target), so the
    // join back must keep its rows too — `===` would silently drop
    // every NULL-stratum row while still letting the group shrink all
    // real strata
    df.join(broadcast(rates), df(stratumCol) <=> col("__stratum"))
      .where(bucket < col("__rate"))
      .drop("__stratum", "__rate")
  }

  /** Corpus vocabulary with dense frequency-ranked ids — the
    * token→id mapping a tokenizer-training / embedding pipeline
    * consumes. Counting is a distributed map-side-combined aggregate.
    *
    * The rank itself is [[Ranking.rankByScore]], NOT a global
    * `row_number()` window: the window form funnels the whole vocab
    * through ONE reducer, and a junk-inflated 100 TB vocab is 10⁸+
    * rows. The balanced rank cells on (cnt, token-prefix) — the
    * 2-char prefix is monotone in the token's lexicographic order, so
    * it splits the dominant cnt=1 long-tail cell across ~10³ window
    * partitions while producing the bit-identical (count desc, token
    * asc) ranking. Deterministic, oracle = plain row_number SQL.
    * @return (token, cnt, token_id) with token_id dense from 1 */
  def vocabulary(df: DataFrame, textCol: String): DataFrame = {
    val toks = ShuffleWidth.widen(df)
      .select(explode(TextFns.tokens(TextFns.normalize(col(textCol)))).as("token"))
    Ranking.rankByScore(
      toks.groupBy(col("token")).agg(count(lit(1)).as("cnt")),
      groupCols = Seq.empty, scoreCol = "cnt", tieCol = "token",
      rankName = "token_id",
      tieBucket = Some(substring(col("token"), 1, 2)))
  }

  /** Tokenizer ENCODE step: materialize each document's token-id
    * stream against a vocabulary — the bridge between [[vocabulary]]
    * (train the token→id map) and [[sequencePack]] (lay out the id
    * stream for training). Output grain is (id, pos, token, token_id),
    * the exploded form every engine can exchange and compare (id
    * ARRAYS as an output column would be opaque to columnar scans and
    * driver compares alike).
    *
    * Out-of-vocabulary tokens encode as `unkId` (left join +
    * coalesce) — a corpus-trained vocab has none, but an EXTERNAL
    * vocab (the production case: tokenize shard N against the frozen
    * run vocabulary) must not silently drop tokens.
    *
    * The vocab joins on the token key — NOT broadcast: a corpus-scale
    * vocabulary doesn't fit an executor; AQE's skew split covers the
    * stopword-head keys. */
  def encodeTokens(
      df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, // columns: token STRING, token_id LONG
      unkId: Long = -1L): DataFrame = {
    ShuffleWidth.widen(df)
      .select(col(idCol),
        posexplode(TextFns.tokens(TextFns.normalize(col(textCol))))
          .as(Seq("__p", "token")))
      .join(vocab.select(col("token"), col("token_id")), Seq("token"), "left")
      .select(col(idCol), (col("__p") + 1).cast("long").as("pos"),
        col("token"), coalesce(col("token_id"), lit(unkId)).as("token_id"))
  }

  /** BPE subword merge TRAINING — the Sennrich byte-pair-encoding
    * loop (the public `learn_bpe` algorithm: count adjacent symbol
    * pairs, merge the most frequent, repeat) re-expressed over word
    * TYPES, the classic trick that makes BPE train at corpus scale:
    * the corpus enters ONCE through a (token, count) aggregate, and
    * every merge round then works on the vocab-sized type table —
    * at 100 TB that is ~10⁶-10⁸ narrow rows per round, not the
    * corpus.
    *
    * Encoding representation: each word's symbol sequence is the
    * string `(s1)(s2)...` — wrapped symbols make a merge of pair
    * (a,b) one exact, boundary-safe, non-overlapping left-to-right
    * literal `replace(enc, '(a)(b)', '(ab)')`, which is precisely the
    * reference algorithm's one-pass merge semantics ("aaaa" + merge
    * (a,a) → "(aa)(aa)") with zero per-row UDFs; the wrapper is
    * unambiguous because training restricts to `[a-z0-9]+` tokens
    * (subword models own the alphabet they train on — anything else
    * passes through un-encoded).
    *
    * Per round: one map-side-combined pair aggregate + an argmax
    * collected to the driver (ONE row — the bounded-collect class of
    * the k-means centroid sync), tie-broken (weight DESC, a ASC,
    * b ASC) so training is deterministic and oracle-reproducible.
    * The type table persists between rounds; each round's replace is
    * one codegen'd projection.
    *
    * Scale bound: training is inherently sequential (each merge
    * changes the pair counts the next round sees), so M merges = M
    * driver-coordinated rounds over the VOCAB-sized table — at a
    * production M≈32k that is ~32k Spark jobs of fixed scheduling
    * latency (hours). The word-TYPE table is vocab-sized, so when it
    * fits `localTypeLimit` the trainer COLLECTS it once and runs the
    * heap-based Sennrich learn_bpe driver-side instead
    * ([[localBpeMerges]] — bit-identical by construction, 32k merges
    * in seconds, the same fast-path discipline as the q45 union-find
    * `localEdgeLimit`). The distributed loop remains the above-bound
    * path: the corpus still enters ONCE through the (token, count)
    * aggregate either way.
    * @param localTypeLimit collect-and-train bound on DISTINCT word
    *   types (driver budget ≈ types · avg-len strings + a pair-count
    *   map bounded by total symbols — a few hundred MB at the
    *   default); 0 forces the distributed loop
    * @return the ordered merge list, highest-priority first */
  def bpeMerges(df: DataFrame, textCol: String, nMerges: Int,
      localTypeLimit: Int = 200000): Seq[(String, String)] = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    var words = ShuffleWidth.widen(df)
      .select(explode(TextFns.tokens(TextFns.normalize(col(textCol)))).as("token"))
      .where(col("token").rlike("^[a-z0-9]+$"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .withColumn("enc", regexp_replace(col("token"), "(.)", "($1)"))
      .persist()
    if (localTypeLimit > 0 &&
        words.limit(localTypeLimit + 1).count() <= localTypeLimit)
      try {
        return localBpeMerges(
          words.select(col("token"), col("cnt")).collect()
            .map(r => (r.getString(0), r.getLong(1))), nMerges)
      } finally { words.unpersist(); () }
    // every round's type table stays persisted until training ends —
    // the tables are vocab-sized, and holding them halves the job
    // count (the next round's argmax materializes this round's cache
    // through the still-cached parent; no separate count() job needed)
    val held = Seq.newBuilder[DataFrame]
    held += words
    val out = Seq.newBuilder[(String, String)]
    try {
      var round = 0
      var dry = false
      while (round < nMerges && !dry) {
        round += 1
        val sym = split(trim(col("enc"), "()"), "\\)\\(")
        val n1 = greatest(size(col("__sym")) - 1, lit(0))
        val pairs = words
          .withColumn("__sym", sym)
          .select(col("cnt"), explode(zip_with(
            slice(col("__sym"), lit(1), n1), slice(col("__sym"), lit(2), n1),
            (x, y) => struct(x.as("a"), y.as("b")))).as("__p"))
          .select(col("__p.a"), col("__p.b"), col("cnt"))
        val best = pairs.groupBy("a", "b").agg(sum("cnt").as("w"))
          .orderBy(col("w").desc, col("a").asc, col("b").asc)
          .limit(1).collect()
        if (best.isEmpty) dry = true // every word is one symbol
        else {
          val (a, b) = (best.head.getString(0), best.head.getString(1))
          out += ((a, b))
          words = words.withColumn("enc",
            expr(s"replace(enc, '($a)($b)', '($a$b)')")).persist()
          held += words
        }
      }
      out.result()
    } finally { held.result().foreach(_.unpersist()); () }
  }

  /** Driver-side exact BPE training over a collected (token, count)
    * type table — the [[bpeMerges]] fast path (Sennrich's learn_bpe
    * with incremental pair-count maintenance and a lazy-deletion
    * max-heap). Semantics are BIT-IDENTICAL to the distributed loop:
    * the argmax is (weight DESC, a ASC, b ASC) — the training alphabet
    * is `[a-z0-9]+`, so JVM String order equals the UTF8 binary order
    * Spark sorts by — and each merge is one left-to-right
    * non-overlapping pass per word, exactly the wrapped-string
    * `replace` the distributed round applies. Training stops early
    * only when NO adjacent pair remains anywhere (every word fully
    * merged), same as the distributed dry check.
    *
    * Cost: pair counts update incrementally through a pair → word-ids
    * index (only words CONTAINING the merged pair are touched), and
    * the heap pops stale entries lazily (an entry is live iff it
    * matches the current count) — per merge O(touched words · word
    * len), independent of the merge count, which is what turns 32k
    * merges from 32k Spark jobs into seconds of driver time. */
  private[graft] def localBpeMerges(types: Array[(String, Long)],
      nMerges: Int): Seq[(String, String)] = {
    val words = types.map { case (t, _) =>
      val a = new Array[String](t.length)
      var i = 0
      while (i < t.length) { a(i) = String.valueOf(t.charAt(i)); i += 1 }
      a
    }
    val wcnt = types.map(_._2)
    val cnt = new java.util.HashMap[(String, String), Long]()
    val occ = new java.util.HashMap[(String, String),
      scala.collection.mutable.HashSet[Int]]()
    // max-heap: weight DESC, then a ASC, b ASC (the distributed argmax)
    val ord = new Ordering[(Long, String, String)] {
      def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(x._1, y._1)
        if (c != 0) c
        else {
          val ca = y._2.compareTo(x._2)
          if (ca != 0) ca else y._3.compareTo(x._3)
        }
      }
    }
    val heap = scala.collection.mutable.PriorityQueue.empty[
      (Long, String, String)](ord)
    def bump(p: (String, String), by: Long, wi: Int, add: Boolean): Unit = {
      val nv = cnt.getOrDefault(p, 0L) + by
      if (nv <= 0L) cnt.remove(p) else cnt.put(p, nv)
      val s = occ.get(p)
      if (add) {
        if (s == null) {
          val ns = scala.collection.mutable.HashSet.empty[Int]
          ns += wi; occ.put(p, ns)
        } else s += wi
      }
      ()
    }
    def pairsOf(syms: Array[String])(f: (String, String) => Unit): Unit = {
      var i = 0
      while (i < syms.length - 1) { f(syms(i), syms(i + 1)); i += 1 }
    }
    var wi = 0
    while (wi < words.length) {
      pairsOf(words(wi))((a, b) => bump((a, b), wcnt(wi), wi, add = true))
      wi += 1
    }
    occ.keySet().forEach(p => heap.enqueue((cnt.getOrDefault(p, 0L), p._1, p._2)))
    val out = Seq.newBuilder[(String, String)]
    var made = 0
    var dry = false
    while (made < nMerges && !dry) {
      // lazy deletion: pop until the entry matches the live count
      var best: (String, String) = null
      while (best == null && heap.nonEmpty) {
        val (w, a, b) = heap.dequeue()
        if (w > 0L && cnt.getOrDefault((a, b), 0L) == w) best = (a, b)
      }
      if (best == null) dry = true
      else {
        out += best
        made += 1
        val (a, b) = best
        val ab = a + b
        val touched = occ.remove(best)
        val changed = scala.collection.mutable.HashSet.empty[(String, String)]
        if (touched != null) touched.toArray[Int].foreach { w =>
          val old = words(w)
          val c = wcnt(w)
          pairsOf(old) { (x, y) =>
            bump((x, y), -c, w, add = false); changed += ((x, y))
            val s = occ.get((x, y)); if (s != null) { s -= w; () }
          }
          // one left-to-right non-overlapping merge pass
          val nw = new scala.collection.mutable.ArrayBuffer[String](old.length)
          var i = 0
          while (i < old.length) {
            if (i < old.length - 1 && old(i) == a && old(i + 1) == b) {
              nw += ab; i += 2
            } else { nw += old(i); i += 1 }
          }
          val ns = nw.toArray
          words(w) = ns
          pairsOf(ns) { (x, y) =>
            bump((x, y), c, w, add = true); changed += ((x, y)); ()
          }
        }
        changed.foreach { p =>
          val w = cnt.getOrDefault(p, 0L)
          if (w > 0L) heap.enqueue((w, p._1, p._2))
        }
      }
    }
    out.result()
  }

  /** BPE subword ENCODE against a trained merge list — the subword
    * completion of [[encodeTokens]] (q79 encodes whole words; real
    * training pipelines encode merges).
    *
    * Semantics: apply the M merges IN RANK ORDER, each as one
    * left-to-right non-overlapping pass over the word's current
    * symbol sequence — exactly the `replace(replace(…))` chain over
    * the wrapped-symbol string encoding (the form the DuckDB oracle
    * replays), with one crucial difference in HOW: a nested-literal
    * chain is O(M) deep in the plan, which at a production merge
    * count (~32k) is a parser/analyzer blowup and the measured q140
    * codegen cliff. Instead the merge list compiles DRIVER-SIDE into
    * a rank lookup (pair → ordered ranks) broadcast to a typed
    * per-partition pass over the DISTINCT word types — the legitimate
    * §2.10 carve-out: the plan is O(1) in M, the pass runs over the
    * VOCAB-sized type table (never the corpus), and each word encodes
    * in O(len · merges-applied) via a monotone rank floor (the next
    * merge to fire is the smallest rank above the last applied — a
    * later merge can re-create an earlier pair, but the sequential
    * chain has already passed that rank, so it must NOT fire;
    * [[applyMerges]] pins this).
    *
    * The encoded types join back to the token stream on the token key
    * (the q79 shape: corpus-scale type tables don't broadcast; AQE
    * covers the stopword-head skew). Tokens outside the trained
    * `[a-z0-9]+` alphabet are dropped — the model cannot encode
    * symbols it never saw (callers route those to a byte fallback
    * upstream).
    * @return (idCol, pos, token, piece_pos, piece), positions 1-based */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val toks = ShuffleWidth.widen(df)
      .select(col(idCol),
        posexplode(TextFns.tokens(TextFns.normalize(col(textCol))))
          .as(Seq("__p", "token")))
      .where(col("token").rlike("^[a-z0-9]+$"))
    val bc = spark.sparkContext.broadcast(merges.toArray)
    val types = toks.select("token").distinct().as[String]
      .mapPartitions { it =>
        val pairs = bc.value
        val rank = compileRanks(pairs)
        it.map(tok => (tok, applyMerges(tok, pairs, rank)))
      }.toDF("token", "sym")
    toks.join(types, Seq("token"))
      .select(col(idCol), (col("__p") + 1).cast("long").as("pos"),
        col("token"), posexplode(col("sym")).as(Seq("__q", "piece")))
      .select(col(idCol), col("pos"), col("token"),
        (col("__q") + 1).cast("long").as("piece_pos"), col("piece"))
  }

  /** Compile a merge list into the pair → ordered-ranks lookup
    * [[applyMerges]] probes. The key wraps the pair as `a)(b` — the
    * training alphabet is `[a-z0-9]+`, so the separator is
    * unambiguous (same argument as the wrapped-string encoding). A
    * pair CAN repeat in a trained list (a later merge can re-create
    * and re-learn an earlier pair), so every rank is kept, ordered. */
  private[graft] def compileRanks(pairs: Array[(String, String)])
      : java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]](pairs.length * 2)
    var i = 0
    while (i < pairs.length) {
      val k = pairs(i)._1 + ")(" + pairs(i)._2
      val prev = m.get(k)
      m.put(k, if (prev == null) Array(i + 1) else prev :+ (i + 1))
      i += 1
    }
    m
  }

  /** Apply a rank-compiled merge list to one word — bit-identical to
    * the sequential nested-replace chain: merges fire in strictly
    * increasing rank order (the monotone `floor`), each as ONE
    * left-to-right non-overlapping pass; a pair re-created by a later
    * merge does not resurrect an already-passed rank. O(len) scan per
    * fired merge, O(1) in the total merge count for ranks that never
    * fire. */
  private[graft] def applyMerges(token: String,
      pairs: Array[(String, String)],
      rank: java.util.HashMap[String, Array[Int]]): Array[String] = {
    var syms = new Array[String](token.length)
    var c = 0
    while (c < token.length) {
      syms(c) = String.valueOf(token.charAt(c)); c += 1
    }
    var floor = 0
    var done = syms.length <= 1 || rank.isEmpty
    while (!done) {
      // the next rank the sequential chain would fire: the smallest
      // rank > floor among the pairs currently adjacent in the word
      var best = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val rs = rank.get(syms(i) + ")(" + syms(i + 1))
        if (rs != null) {
          var j = 0
          while (j < rs.length) {
            val r = rs(j)
            if (r > floor && r < best) best = r
            j += 1
          }
        }
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val (a, b) = pairs(best - 1)
        val ab = a + b
        val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
            out += ab; j += 2
          } else {
            out += syms(j); j += 1
          }
        }
        syms = out.toArray
        floor = best
        done = syms.length <= 1
      }
    }
    syms
  }

  /** Deterministic hash-based dataset split — the train/valid/test
    * assignment a training pipeline runs instead of RNG sampling:
    * bucket = md5(id) mod 100, thresholds cut the buckets. Properties
    * RNG sampling lacks: reproducible across runs/engines/partitionings,
    * stable under corpus growth (a doc never changes split), and
    * joinable (any table keyed by id lands in the same split). One
    * map stage, no shuffle.
    * @param cuts ascending (threshold, name): bucket < t → name; the
    *   last name takes the remainder */
  def hashSplit(
      df: DataFrame, idCol: String,
      cuts: Seq[(Int, String)] = Seq(80 -> "train", 90 -> "valid"),
      rest: String = "test"): DataFrame = {
    val bucket = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long") % 100
    val split = cuts.foldRight(lit(rest): Column) { case ((t, name), other) =>
      when(bucket < t, lit(name)).otherwise(other)
    }
    df.withColumn("bucket", bucket).withColumn("split", split)
  }

  /** Deterministic global corpus shuffle into training shards — the
    * "shuffle the corpus" step between curation and sequence packing
    * (a training run must not see documents in source/crawl order, and
    * the order must be reproducible for restarts and ablations).
    *
    * Each doc gets a salted md5-uniform position key; shard =
    * key mod nShards, pos = rank of the key within the shard. Reading
    * shards in (shard, pos) order replays one fixed global permutation
    * of the corpus — reproducible across runs, engines and
    * partitionings (no RNG, no partition-id dependence), stable per
    * doc under re-sharding of the WRITE (the key doesn't change), and
    * independent of the other hash-derived assignments via the salt.
    *
    * Scale shape: one shuffle keyed by shard; the per-shard rank
    * windows over ~N/nShards NARROW rows (id + two longs — callers
    * join payloads back by id downstream, so document bytes never
    * enter the sort). Size nShards so a shard's keys fit a task
    * (nShards ≈ corpus/10⁶ at 100 TB).
    * @return (idCol, shard, pos) — pos is 1-based and gap-free per shard */
  def shuffleShards(
      df: DataFrame, idCol: String, nShards: Int, salt: String = "shuf"): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    import org.apache.spark.sql.expressions.Window
    val key = conv(substring(md5(concat(lit(salt), lit(":"),
      col(idCol).cast("string"))), 1, 15), 16, 10).cast("long")
    df.select(col(idCol), key.as("__k"))
      .withColumn("shard", pmod(col("__k"), lit(nShards.toLong)).cast("int"))
      // tie-break on id: md5-prefix collisions are ~N²/2⁶⁰ unlikely but
      // the permutation must be total regardless
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("__k"), col(idCol)))
        .cast("long"))
      .drop("__k")
  }

  /** Deterministic importance sampling: keep each row with probability
    * `min(1, weight)` using the repo's salted md5-uniform in place of
    * an RNG — reproducible across runs/engines, stable under corpus
    * growth (a row's keep/drop never changes), and independent of the
    * other hash-derived assignments (`hashSplit`, `rebalanceStrata`)
    * via the salt. The standard quality-weighted corpus selection:
    * weight = f(quality score) upweights good documents without the
    * hard cutoff of a threshold filter. One map stage, no shuffle,
    * filter eligible for scan pushdown when the weight is
    * column-derived.
    *
    * Float parity: `u` is an exact 32-bit-integer / 2^32 double and
    * the weight is one deterministic division — the `u < p` selection
    * is bit-identical across engines (same policy as
    * `rebalanceStrata`'s integer-rate compare). */
  def importanceSample(
      df: DataFrame, idCol: String, weight: Column,
      salt: String = "smp"): DataFrame = {
    // p and u are part of the OUTPUT contract (callers read the kept
    // probability), so a pre-existing column would be silently
    // overwritten — refuse instead, like rankByScore's __lrank guard
    require(!df.columns.contains("p") && !df.columns.contains("u"),
      "input must not already carry p/u columns (importanceSample emits them)")
    val u = conv(
      substring(md5(concat(col(idCol).cast("string"), lit(":" + salt))), 1, 8),
      16, 10).cast("long").cast("double") / lit(4294967296.0)
    df.withColumn("p", least(lit(1.0), weight))
      .withColumn("u", u)
      .where(col("u") < col("p"))
  }

  /** Weighted sampling WITHOUT replacement — Efraimidis–Spirakis
    * (A-ES): each row draws a deterministic pseudo-uniform u from its
    * id (same md5 derivation as [[importanceSample]], +0.5 so u is
    * strictly inside (0,1)) and scores `ln(u)/w`; the k LARGEST
    * scores are the exact weighted sample. Unlike Bernoulli
    * [[importanceSample]] (each row kept independently, output size
    * random), this returns EXACTLY k rows with inclusion probability
    * proportional to weight — the corpus-mixing primitive when the
    * token budget is fixed.
    *
    * Scale shape: `orderBy(...).limit(k)` plans as
    * TakeOrderedAndProject — each partition keeps its local top-k
    * (O(k) state, the reservoir property that makes A-ES
    * single-pass) and only p·k candidate rows converge. `ln` is the
    * libm-exact [[graft.plans.LibmLn]] so the score hash-matches the
    * DuckDB twin bit-for-bit. Non-positive weights are excluded
    * (undefined under A-ES), ties break on the id. */
  def weightedSample(df: DataFrame, idCol: String, weight: Column, k: Int,
      salt: String = "aes"): DataFrame = {
    require(k > 0, s"sample size must be positive, got $k")
    require(!df.columns.contains("w") && !df.columns.contains("aes_key"),
      "input must not already carry w/aes_key columns (weightedSample emits them)")
    val u = (conv(
      substring(md5(concat(col(idCol).cast("string"), lit(":" + salt))), 1, 8),
      16, 10).cast("long").cast("double") + lit(0.5)) / lit(4294967296.0)
    df.withColumn("w", weight.cast("double"))
      .where(col("w") > 0)
      .withColumn("aes_key", graft.plans.GraftExtensions.ln(u) / col("w"))
      .orderBy(col("aes_key").desc, col(idCol))
      .limit(k)
  }

  /** Sequence packing: assign each document a position in a
    * fixed-token-budget training-sequence stream — the standard
    * pretraining batch layout (documents concatenated shard-locally,
    * the stream chopped every `budget` tokens; a document belongs to
    * the sequence where it STARTS and may spill into the next, exactly
    * like GPT-style packing).
    *
    * Sharding makes this scale: a GLOBAL running token count would be
    * one totally-ordered window (single reducer — unusable at 100 TB),
    * so documents are hashed into `shards` independent streams and the
    * cumulative sum runs per shard — the same shard-local packing real
    * pipelines use, embarrassingly parallel with one shuffle. Pick
    * shards ≈ corpus tokens / (executor-memory-sized stream): each
    * shard's window sorts only its own slice. The md5 shard hash is the
    * same derivation as [[hashSplit]] — reproducible, growth-stable,
    * and portable to the oracle.
    *
    * seq_id numbering is interleaved (`shard + k·shards`) so ids are
    * globally unique without needing per-shard sequence counts.
    * @return (idCol, n_tokens, shard, seq_id, tok_offset) — tok_offset is the
    *   document's first-token position within its sequence */
  def sequencePack(
      df: DataFrame, idCol: String, textCol: String,
      budget: Int = 1024, shards: Int = 8): DataFrame = {
    // coalesce: size() of a NULL token array is NULL (or -1 with ANSI
    // off) — a NULL-text doc must still get a stream position (0 tokens)
    // or it breaks the running sum for every doc after it in the shard
    val nTok = coalesce(
      size(TextFns.tokens(TextFns.normalize(col(textCol)))).cast("long"),
      lit(0L))
    packTokenCounts(
      df.select(col(idCol), nTok.as("n_tokens")), idCol, budget, shards)
  }

  /** [[sequencePack]] over a PRECOMPUTED per-document token count
    * (`n_tokens` column) — the form a SUBWORD pipeline needs, where
    * the budget is measured in [[bpeEncode]] pieces (or any external
    * tokenizer's counts), not whitespace words. Same sharded
    * prefix-sum layout, same interleaved seq_id numbering. */
  def packTokenCounts(
      counts: DataFrame, idCol: String,
      budget: Int = 1024, shards: Int = 8): DataFrame = {
    require(budget >= 1 && shards >= 1, "budget and shards must be positive")
    val shard = (conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long") % shards).cast("int")
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
    counts.select(col(idCol),
        greatest(coalesce(col("n_tokens").cast("long"), lit(0L)), lit(0L))
          .as("n_tokens"),
        shard.as("shard"))
      .withColumn("__start", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("seq_id",
        col("shard") + floor(col("__start") / budget) * shards)
      .withColumn("tok_offset", col("__start") % budget)
      .drop("__start")
  }

  /** PII patterns for [[redactPii]] — (regex, replacement tag). POSIX
    * classes only, so the same patterns run verbatim in the DuckDB
    * oracle. Deliberately compact; a production deployment extends the
    * list (IBANs, national ids, ...) without touching the operator. */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}" -> "<EMAIL>",
    "\\+?[0-9][0-9 ()-]{7,}[0-9]" -> "<PHONE>",
    "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}" -> "<IP>")

  /** PII redaction — the scrub pass a training corpus gets before any
    * model sees it: chained regexp_replace (codegen'd, one map stage,
    * zero shuffle) plus a per-document count of redactions so the
    * pipeline can quarantine PII-dense documents instead of just
    * masking them.
    * @return idCol, redacted text, n_redactions */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // stages(i) = text BEFORE pattern i applies (patterns chain, so
    // pattern i must count against the text the i-1 earlier replacements
    // produced, or an email inside a phone-shaped span double-counts)
    val stages = piiPatterns.scanLeft(col(textCol)) {
      case (c, (re, tag)) => regexp_replace(c, re, tag)
    }
    val redacted = stages.last
    // count = ACTUAL matches per stage, not tag occurrences in the
    // output: a literal "<EMAIL>" pre-existing in a template/docs corpus
    // must not inflate the redaction count a quarantine rule acts on.
    val nRedactions = piiPatterns.zip(stages.init).map {
      case ((re, _), pre) => regexp_count(pre, lit(re))
    }.reduce(_ + _)
    df.select(col(idCol), redacted.as("redacted"),
      nRedactions.cast("long").as("n_redactions"))
  }

  /** Corpus-level boilerplate removal (the C4/RefinedWeb line-dedup
    * rule, with fixed `segTokens`-token segments standing in for lines
    * in this newline-free corpus): any segment occurring in at least
    * `minDocFreq` DISTINCT documents is boilerplate (navigation bars,
    * cookie banners, license headers) and is stripped from every
    * document; the survivors are reassembled in original order.
    *
    * Plan shape, in scale order of cost:
    *  1. segment stream (id, k, seg, h) — one map stage (explode +
    *     slice/concat_ws, codegen; h = 60-bit md5 prefix);
    *  2. document frequency over fixed-width (h, id) rows —
    *     distinct + partial-aggregated count; segment TEXT never
    *     enters these exchanges;
    *  3. hot-set broadcast anti-join — the q46-contamination pattern
    *     (Dedup.scala hot-shingle list): boilerplate is by definition
    *     few DISTINCT values repeated many times, so the hot list is
    *     ≤ |segments|/minDocFreq 8-byte hashes and Zipf-concentrated
    *     far below that; if a corpus ever breaks the bound, swap the
    *     broadcast for a shuffle anti-join on h (the stream is still
    *     fixed-width — only step 4 ever moves text);
    *  4. order-preserving reassembly — the one unavoidable text
    *     shuffle (groupBy doc, collect (k, seg), array_sort on the
    *     unique-per-doc k, join back to the per-doc segment count on
    *     the same doc-id key).
    *
    * Both engines compute the hot set from the SAME 60-bit hash, so
    * even a prefix collision (one phantom boilerplate segment) matches
    * bit-for-bit across the oracle.
    * @return idCol, n_seg, n_kept, clean_text ('' when everything was
    *         boilerplate or the document was empty/NULL) */
  def stripBoilerplate(
      df: DataFrame, idCol: String, textCol: String,
      segTokens: Int = 8, minDocFreq: Int = 2): DataFrame = {
    require(segTokens >= 1, s"segTokens must be >= 1, got $segTokens")
    require(minDocFreq >= 2,
      s"minDocFreq must be >= 2 (at 1 every segment is boilerplate), got $minDocFreq")
    val base = ShuffleWidth.widen(df)
      .select(col(idCol),
        TextFns.tokens(TextFns.normalize(col(textCol))).as("__toks"))
    // size() is -1 for a NULL array (non-ANSI default): fold NULL text
    // into the 0-segment branch rather than letting -1 reach the
    // segment arithmetic
    val n = size(col("__toks"))
    // integral `div` (the oracle's `//`), not Column.divide — see
    // chunkDocuments
    val segs = base
      .where(n >= 1)
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0),
          expr(s"(size(__toks) - 1) div $segTokens"))).as("__k"))
      .select(col(idCol), col("__k").cast("long").as("__k"),
        concat_ws(" ", slice(col("__toks"),
          col("__k") * segTokens + 1, lit(segTokens))).as("__seg"))
      .withColumn("__h",
        conv(substring(md5(col("__seg")), 1, 15), 16, 10).cast("long"))
    val hot = segs.select(col("__h"), col(idCol)).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__df"))
      .where(col("__df") >= minDocFreq)
      .select(col("__h"))
    val re = segs.join(broadcast(hot), Seq("__h"), "left_anti")
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("__k"), col("__seg")))),
            s => s.getField("__seg")), " ").as("clean_text"))
    base.select(col(idCol),
        when(n <= 0, lit(0L))
          .otherwise(
            expr(s"cast((size(__toks) - 1) div $segTokens AS BIGINT)") + 1L)
          .as("n_seg"))
      .join(re, Seq(idCol), "left")
      .select(col(idCol), col("n_seg"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Exact n-gram heavy hitters at BOUNDED state: every n-gram whose
    * frequency exceeds `num/denom` of the total n-gram count, with its
    * exact count — via the two-pass sketch-then-recount pattern:
    *
    *  1. candidate pass: one scan through a [[graft.functions.MisraGries]]
    *     sketch with k = denom/num + 1 counters (k ≥ denom/num − 1
    *     guarantees every qualifying n-gram is a candidate); Spark's
    *     partial/final aggregation runs the sketch per partition and
    *     merges — state is O(k) EVERYWHERE, vs the plain
    *     `groupBy(ngram)` whose shuffle carries the full n-gram
    *     vocabulary (unbounded: 5-gram vocabularies exceed the corpus
    *     at web scale — this op exists because [[topNgrams]] does not
    *     scale past token-level vocabularies);
    *  2. exact pass: re-count ONLY candidate-matching rows (broadcast
    *     semi-join of ≤ k candidates), then threshold with exact
    *     integer arithmetic (cnt·denom > num·N).
    *
    * The ≤ k-entry candidate row is collected at the driver — the
    * [[Similarity.kmeans]] centroid precedent: a bounded sketch, not
    * data. The sketch's candidate set varies with merge order; the
    * recount + threshold make the RESULT exact and deterministic.
    * @return (ngram, cnt) rows with cnt·denom > num·N */
  def heavyNgrams(
      df: DataFrame, textCol: String, n: Int,
      num: Int, denom: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(num >= 1 && num < denom,
      s"threshold must satisfy 1 <= num < denom, got $num/$denom")
    val k = denom / num + 1
    val spark = df.sparkSession
    import spark.implicits._
    val stream = ShuffleWidth.widen(df)
      .select(TextFns.tokens(TextFns.normalize(col(textCol))).as("__toks"))
      .where(size(col("__toks")) >= n)
      .select(col("__toks"),
        explode(sequence(lit(1), size(col("__toks")) - (n - 1))).as("__i"))
      .select(concat_ws(" ", slice(col("__toks"), col("__i"), lit(n))).as("ngram"))
    val mg = udaf(new graft.functions.MisraGries(k))
    val row = stream.agg(mg(col("ngram")).as("__cands"),
      count(lit(1)).as("__total")).head()
    val cands = row.getSeq[String](0)
    val total = row.getLong(1)
    if (cands.isEmpty)
      stream.groupBy(col("ngram")).agg(count(lit(1)).as("cnt")).limit(0)
    else
      stream.join(broadcast(cands.map(Tuple1(_)).toDF("ngram")),
          Seq("ngram"), "left_semi")
        .groupBy(col("ngram")).agg(count(lit(1)).as("cnt"))
        .where(col("cnt") * denom > lit(num) * lit(total))
  }

  /** SEGMENT-LEVEL exact dedup — the sub-document granularity the
    * C4/RefinedWeb pipelines dedup at: identical segments are removed
    * corpus-wide (keep-first by (doc_id, seg_idx)) and each document
    * is reassembled from its surviving segments, so boilerplate
    * repeated ACROSS documents disappears while unique prose stays.
    * Document-level dedup (q34) can't touch this: two documents
    * sharing one boilerplate paragraph are not duplicates of each
    * other.
    *
    * The segmenter here is fixed `segTokens`-token windows over the
    * normalized token stream (the corpus carries no newlines); a
    * production corpus would segment on paragraph breaks — the dedup
    * and reassembly are segmenter-agnostic.
    *
    * Scale shape: the keep-first decision is ONE map-side-combinable
    * `min(struct(doc_id, seg_idx))` per distinct segment (no window
    * over the corpus); the winner join is 1:1 per segment occurrence
    * and reuses the groupBy's hash partitioning on `seg`; reassembly
    * shuffles each kept segment once, keyed by doc. A doc whose every
    * segment lost emits `n_kept = 0` with NULL deduped text (both
    * engines agree — string_agg over an empty filter is NULL).
    *
    * @return (doc_id, n_segments, n_kept, text_deduped) */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
      segTokens: Int = 8): DataFrame = {
    require(segTokens >= 1, s"segTokens must be positive, got $segTokens")
    // widened (the tokenize+segment map is the CPU of this operator —
    // a one-row-group input would run it single-task) and lazily
    // checkpointed: `segs` is referenced THREE times below (winner agg,
    // winner join, per-doc counts), and each plan-level reference would
    // re-tokenize the corpus — the semanticDedup lineage discipline
    val segs = ShuffleWidth.widen(df.where(col(textCol).isNotNull))
      .select(col(idCol).cast("long").as("doc_id"),
        TextFns.tokens(TextFns.normalize(col(textCol))).as("__tk"))
      .where(size(col("__tk")) > 0)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, cast(ceil(size(__tk) / ${segTokens}.0) as int) - 1), " +
          s"i -> array_join(slice(__tk, i * $segTokens + 1, $segTokens), ' '))"))
        .as(Seq("seg_idx", "seg")))
      .localCheckpoint(false)
    val winners = segs.groupBy(col("seg"))
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("__w"))
      .select(col("seg"), col("__w.doc_id").as("__wd"), col("__w.seg_idx").as("__wi"))
    val kept = segs.join(winners, Seq("seg"))
      .where(col("doc_id") === col("__wd") && col("seg_idx") === col("__wi"))
    val keptPerDoc = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(expr(
          "transform(array_sort(collect_list(struct(seg_idx, seg))), s -> s.seg)"),
          " ").as("text_deduped"))
    segs.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"))
      .join(keptPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("text_deduped"))
  }

  /** Word n-gram frequency: top-k n-grams. Position-explode +
    * slice/concat_ws (codegen) rather than a per-row `transform`
    * (interpreted); top-k plans as TakeOrderedAndProject over the
    * partial-aggregated counts. */
  def topNgrams(df: DataFrame, textCol: String, n: Int, k: Int): DataFrame =
    df.select(TextFns.tokens(TextFns.normalize(col(textCol))).as("__toks"))
      .where(size(col("__toks")) >= n)
      .select(col("__toks"),
        explode(sequence(lit(1), size(col("__toks")) - (n - 1))).as("__i"))
      .select(concat_ws(" ", slice(col("__toks"), col("__i"), lit(n))).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("ngram"))
      .limit(k)
}
