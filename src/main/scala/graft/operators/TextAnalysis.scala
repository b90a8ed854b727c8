package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-pipeline text analysis operators over `documents` (SURVEY.md §2 B29,
  * B32 + the training-data-pipeline extensions): exact dedup, token stats,
  * quality scoring, language-ID heuristic, and document fingerprinting.
  *
  * All operators are pure column programs (whole-stage codegen, no UDFs);
  * every aggregate is map-side combinable, so they hold at 100 TB: the only
  * shuffles are the final per-group combines.
  */
object TextAnalysis {

  private[operators] val stopwords = Seq("the", "a", "and", "of", "to")

  // tokens of the already-lowercased corpus; empty strings dropped
  private def tokens = Tok.ws(col("text"))

  // -- B29: exact dedup by content hash --------------------------------------
  private def q30(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_unique"),
        countDistinct(sha2(regexp_replace(col("text"), "\\s+", " "), 256)).as("n_unique_norm"))
      .orderBy(col("lang"))

  private val q30Sql =
    """SELECT lang, count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique,
      |  count(DISTINCT sha256(regexp_replace(text, '\s+', ' ', 'g'))) AS n_unique_norm
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // -- B32: term statistics — top-20 tokens ----------------------------------
  private def q31(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(tokens).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(20)

  private val q31Sql =
    """SELECT token, count(*) AS cnt
      |FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
      |  FROM documents)
      |GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin

  // -- quality scoring: token counts, stopword load, banding -----------------
  // Integer-only outputs: cross-engine float division is the one thing that
  // cannot be made bit-stable, so ratios ship as integer basis-point-free
  // counts plus a deterministic band.
  private def q32(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        size(tokens).as("n_tokens"),
        size(filter(tokens, x => x.isin(stopwords: _*))).as("n_stop"))
      .withColumn("chars_per_token", expr("n_chars div n_tokens"))
      .withColumn("quality_band",
        when(col("n_tokens") < 50, "short")
          .when(col("n_stop") * 10 >= col("n_tokens"), "stopword_heavy")
          .otherwise("ok"))
      .orderBy(col("doc_id"))

  private val q32Sql =
    """SELECT doc_id, n_chars, n_tokens, n_stop, n_chars // n_tokens AS chars_per_token,
      |  CASE WHEN n_tokens < 50 THEN 'short'
      |    WHEN n_stop * 10 >= n_tokens THEN 'stopword_heavy'
      |    ELSE 'ok' END AS quality_band
      |FROM (SELECT doc_id, n_chars,
      |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
      |    len(list_filter(string_split(text, ' '),
      |      x -> x IN ('the','a','and','of','to'))) AS n_stop
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  // -- language-ID heuristic: marker-word scoring + deterministic argmax -----
  private def q33(s: SparkSession, dir: String): DataFrame = {
    def score(markers: Seq[String]) = size(filter(tokens, x => x.isin(markers: _*)))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        score(Seq("the", "a", "of", "is")).as("en_score"),
        score(Seq("der", "die", "das", "und")).as("de_score"),
        score(Seq("el", "los", "y", "es")).as("es_score"),
        score(Seq("le", "les", "et", "est")).as("fr_score"))
      .withColumn("predicted",
        when(col("en_score") >= col("de_score") && col("en_score") >= col("es_score") &&
          col("en_score") >= col("fr_score"), "en")
          .when(col("de_score") >= col("es_score") && col("de_score") >= col("fr_score"), "de")
          .when(col("es_score") >= col("fr_score"), "es")
          .otherwise("fr"))
      .withColumn("hit", (col("predicted") === col("lang")).cast("int"))
      .orderBy(col("doc_id"))
  }

  private val q33Sql =
    """SELECT doc_id, lang, en_score, de_score, es_score, fr_score,
      |  CASE WHEN en_score >= de_score AND en_score >= es_score AND en_score >= fr_score THEN 'en'
      |    WHEN de_score >= es_score AND de_score >= fr_score THEN 'de'
      |    WHEN es_score >= fr_score THEN 'es' ELSE 'fr' END AS predicted,
      |  CAST(CASE WHEN (CASE WHEN en_score >= de_score AND en_score >= es_score AND en_score >= fr_score THEN 'en'
      |    WHEN de_score >= es_score AND de_score >= fr_score THEN 'de'
      |    WHEN es_score >= fr_score THEN 'es' ELSE 'fr' END) = lang THEN 1 ELSE 0 END AS INTEGER) AS hit
      |FROM (SELECT doc_id, lang,
      |    len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','is'))) AS en_score,
      |    len(list_filter(string_split(text,' '), x -> x IN ('der','die','das','und'))) AS de_score,
      |    len(list_filter(string_split(text,' '), x -> x IN ('el','los','y','es'))) AS es_score,
      |    len(list_filter(string_split(text,' '), x -> x IN ('le','les','et','est'))) AS fr_score
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  // -- document fingerprinting -----------------------------------------------
  // Whitespace-normalized content hash + a head fingerprint; the positional
  // rolling-hash (winnowing) variant is functions.RollingFingerprints,
  // covered by FunctionsSpec (not SQL-expressible at reasonable cost).
  private def q34(s: SparkSession, dir: String): DataFrame = {
    val norm = regexp_replace(trim(col("text")), "\\s+", " ")
    Tables.documents(s, dir)
      .select(col("doc_id"),
        sha2(norm, 256).as("fingerprint"),
        md5(substring(norm, 1, 64)).as("head_fp"),
        length(norm).as("norm_len"))
      .orderBy(col("doc_id"))
  }

  private val q34Sql =
    """SELECT doc_id, sha256(norm) AS fingerprint, md5(substr(norm, 1, 64)) AS head_fp,
      |  length(norm) AS norm_len
      |FROM (SELECT doc_id, regexp_replace(trim(text), '\s+', ' ', 'g') AS norm
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  // -- token counting: whitespace + BPE-ish regex segmentation ---------------
  private def q39(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(tokens).as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .as("bpe_ish_tokens"),
        length(regexp_replace(col("text"), " ", "")).as("chars_no_ws"))
      .orderBy(col("doc_id"))

  private val q39Sql =
    """SELECT doc_id,
      |  len(list_filter(string_split(text, ' '), x -> x <> '')) AS ws_tokens,
      |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_ish_tokens,
      |  length(replace(text, ' ', '')) AS chars_no_ws
      |FROM documents ORDER BY doc_id""".stripMargin

  // -- deterministic keep-first dedup (survivor selection) -------------------
  // dropDuplicates keeps an ARBITRARY row; training pipelines need a
  // reproducible survivor — row_number over an explicit order does that.
  private def q40(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("n_chars")).orderBy(col("doc_id"))
    Tables.documents(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("source"), col("n_chars"), col("doc_id").as("survivor_doc"))
      .orderBy(col("source"), col("n_chars"))
  }

  private val q40Sql =
    """SELECT source, n_chars, doc_id AS survivor_doc
      |FROM (SELECT *, row_number() OVER (PARTITION BY source, n_chars
      |    ORDER BY doc_id) AS rn FROM documents)
      |WHERE rn = 1 ORDER BY source, n_chars""".stripMargin

  // -- TF-IDF: per-document top terms ----------------------------------------
  // The canonical training-data relevance score as one declarative plan:
  // explode → (doc, term) counts → document frequencies → idf join → per-doc
  // windowed top-3. N rides along as a broadcast scalar (crossJoin with a
  // 1-row agg), so no driver-side collect gates the plan at scale.
  private def q54(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tok = docs.select(col("doc_id"), explode(tokens).as("token"))
    val tf = tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tok.distinct().groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf") * log(col("n_docs").cast("double") / col("df")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("token"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3 && col("doc_id") < 100)
      .select(col("doc_id"), col("rank"), col("token"),
        QueryDef.dec4(col("score")).as("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  private val q54Sql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
      |  FROM documents),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
      |dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT doc_id, rank, token,
      |  CAST(CAST(score AS DECIMAL(38,4)) AS VARCHAR) AS score
      |FROM (
      |  SELECT doc_id, token, tf * ln(CAST(n_docs AS DOUBLE) / df) AS score,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY tf * ln(CAST(n_docs AS DOUBLE) / df) DESC, token) AS rank
      |  FROM tf JOIN dfreq USING (token) CROSS JOIN n)
      |WHERE rank <= 3 AND doc_id < 100
      |ORDER BY doc_id, rank""".stripMargin

  // -- deterministic train/valid/test split ----------------------------------
  // Hash-based splitting the way production pipelines do it: an md5 of the
  // stable key, compared as a hex prefix against fraction thresholds
  // (hex chars sort in value order, so 'cccc' = 0xCCCC/0x10000 ≈ 80%).
  // Fully deterministic, engine-portable, no RNG or ordering dependence —
  // re-running or re-partitioning never reassigns a document.
  private def q55(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("bucket", substring(md5(col("doc_id").cast("string")), 1, 4))
      .withColumn("split",
        when(col("bucket") < "cccc", "train")      // 80%
          .when(col("bucket") < "e666", "valid")   // 10%
          .otherwise("test"))                      // 10%
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("split"))

  private val q55Sql =
    """SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
      |            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'valid'
      |            ELSE 'test' END AS split,
      |  count(*) AS n_docs, min(doc_id) AS min_id, max(doc_id) AS max_id,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // -- test-set decontamination ----------------------------------------------

  /** Flag training docs sharing any word n-gram with an eval/benchmark set
    * (the standard n-gram-overlap contamination test for training corpora).
    *
    * Scale shape: eval sets are small (benchmarks — thousands of docs), so
    * their DISTINCT gram set broadcasts; contamination is then ONE scan of
    * the training corpus with a broadcast-hash semi-join per gram — the
    * 100 TB corpus never shuffles. Returns every train doc with its count
    * of distinct shared grams and a contaminated flag. */
  def decontaminate(train: DataFrame, evalSet: DataFrame,
      shingleN: Int): DataFrame = {
    val evalGrams = evalSet
      .select(explode(Dedup.shingles(col("text"), shingleN)).as("s")).distinct()
    val hits = train
      .select(col("doc_id"), explode(Dedup.shingles(col("text"), shingleN)).as("s"))
      .join(broadcast(evalGrams), Seq("s"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared_grams"))
    train.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"),
        (coalesce(col("n_shared_grams"), lit(0L)) > 0).as("contaminated"))
  }

  // eval set = every doc_id ≡ 7 (mod 100) — a deterministic ~1% "benchmark";
  // 3-grams over the small-vocabulary corpus yield organic overlaps, so the
  // query exercises real hits, not just the zero case
  private def q59(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    decontaminate(docs.filter(col("doc_id") % 100 =!= 7),
      docs.filter(col("doc_id") % 100 === 7), shingleN = 3)
      .orderBy(col("doc_id"))
  }

  private val q59Sql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
      |  FROM toks, unnest(range(1, len(t) - 1)) AS u(i) WHERE len(t) >= 3
      |  UNION
      |  SELECT doc_id, array_to_string(t, ' ') FROM toks
      |  WHERE len(t) BETWEEN 1 AND 2),
      |eg AS (SELECT DISTINCT s FROM sh WHERE doc_id % 100 = 7),
      |hits AS (
      |  SELECT sh.doc_id, count(*) AS n FROM sh JOIN eg USING (s)
      |  WHERE sh.doc_id % 100 <> 7 GROUP BY 1)
      |SELECT d.doc_id, coalesce(h.n, 0) AS n_shared_grams,
      |  coalesce(h.n, 0) > 0 AS contaminated
      |FROM documents d LEFT JOIN hits h USING (doc_id)
      |WHERE d.doc_id % 100 <> 7 ORDER BY doc_id""".stripMargin

  // -- token-budget sequence packing -----------------------------------------

  /** Pack documents into token-budget bins in stable doc_id order — the
    * sequence-packing step before training (fill each context window
    * greedily; a doc larger than the budget gets its own bin). Reuses the
    * distributed chunk fold: the greedy pass runs over projected
    * (row, token-count) pairs only, boundaries broadcast back, so document
    * payloads never funnel through one task.
    *
    * `tokenCount` picks the budget currency: the default counts whitespace
    * words (the q60 oracle's tokenizer); pass
    * `size(bpeTokens(col("text"))).cast("long")` to budget in REAL model
    * tokens under a trained merge table (the q98 shape) — same fold, same
    * scale contract, different accounting. */
  def packByTokens(docs: DataFrame, budgetTokens: Long,
      tokenCount: Column = size(tokens).cast("long")): DataFrame =
    graft.chunk.ChunkAssigner.assignByBytes(
      docs.select(col("doc_id"), tokenCount.as("n_tokens")),
      orderCols = Seq(col("doc_id")), budgetBytes = budgetTokens,
      sizeCol = col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("chunk_number").as("pack_id"))

  // the packing slice is id-bounded: the DuckDB oracle must REPLAY the
  // greedy fold row-by-row (recursive CTE — O(N²) in the oracle engine),
  // so the test surface stays fixed-size at every scale factor while the
  // engine-side fold stays fully distributed (ChunkingLawsSpec checks
  // assignByBytes directly; ingestion packs with its own input-order fold)
  private def q60(s: SparkSession, dir: String): DataFrame =
    packByTokens(Tables.documents(s, dir).filter(col("doc_id") < 2000),
      budgetTokens = 256L)
      .orderBy(col("doc_id"))

  // the same greedy fold, replayed sequentially by a recursive CTE
  private val q60Sql =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS nt,
      |    row_number() OVER (ORDER BY doc_id) AS rn
      |  FROM documents WHERE doc_id < 2000),
      |fold(rn, doc_id, nt, pack_id, acc) AS (
      |  SELECT rn, doc_id, nt, CAST(0 AS BIGINT), nt FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.rn, d.doc_id, d.nt,
      |    CASE WHEN f.acc + d.nt > 256 THEN f.pack_id + 1 ELSE f.pack_id END,
      |    CASE WHEN f.acc + d.nt > 256 THEN d.nt ELSE f.acc + d.nt END
      |  FROM fold f JOIN d ON d.rn = f.rn + 1)
      |SELECT doc_id, nt AS n_tokens, pack_id FROM fold ORDER BY doc_id""".stripMargin

  // -- BPE tokenizer TRAINING (the full loop, not just one step) -------------
  // q83 computes one merge step's pair counts; this iterates the whole BPE
  // training algorithm and returns the learned merge table — which then
  // feeds the native apply expression (q97/q98), closing the loop:
  // train → encode → budget, all inside the engine.

  /** Learn `k` merges from `docs`. State is the DISTINCT-word frequency
    * table (vocabulary-sized — the classic trick: corpus mass rides in
    * `freq`, so the corpus is scanned exactly once, and each of the k
    * iterations is a vocabulary-sized job). Per iteration: re-encode each
    * word under the merges learned so far (the SAME native `BpeEncode`
    * used at apply time, so train and apply can never disagree on pass
    * semantics), count adjacent pairs weighted by freq, and take the
    * argmax with deterministic ties (count desc, then pair asc). Stops
    * early when no pair repeats. Returned table is well-formed by
    * construction — each part is a char or a product of earlier merges —
    * which is exactly the precondition of `BpeEncode`'s equivalence
    * proof. */
  def trainBpeMerges(docs: DataFrame, k: Int): Seq[(String, String)] = {
    require(k >= 1, s"k must be >= 1, got $k")
    val wordFreq = docs.select(explode(tokens).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .cache()
    try {
      val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var exhausted = false
      while (merges.length < k && !exhausted) {
        val toks = graft.functions.BpeExprs.bpeEncode(col("w"), merges.toSeq)
        val top = wordFreq
          .select(col("freq"), toks.as("t"))
          .filter(size(col("t")) >= 2)
          .select(col("freq"),
            explode(sequence(lit(1), size(col("t")) - 1)).as("i"), col("t"))
          .select(element_at(col("t"), col("i")).as("l"),
            element_at(col("t"), col("i") + 1).as("r"), col("freq"))
          .groupBy(col("l"), col("r")).agg(sum(col("freq")).as("cnt"))
          // a merge that fires once buys nothing: require a repeated pair
          .filter(col("cnt") >= 2)
          .orderBy(col("cnt").desc, col("l"), col("r")).limit(1)
          .collect()
        if (top.isEmpty) exhausted = true
        else merges += ((top(0).getString(0), top(0).getString(1)))
      }
      merges.toSeq
    } finally wordFreq.unpersist()
  }

  // -- n-gram LM fluency scoring (the CCNet-style quality filter) ------------
  // Production curation scores documents by a small n-gram language model's
  // log-probability (wikipedia-trained KenLM in CCNet); fluent text scores
  // high, boilerplate/garbage scores low. Here the bigram LM trains on the
  // corpus itself (self-scoring — an external reference corpus would slot
  // into the same shape) with add-1 smoothing.
  //
  // Float discipline: the per-doc score is a SUM over pairs, and float
  // summation order is not cross-engine stable — so each bigram's
  // log-probability is integerized ONCE (floor of micro-nats, one ln and
  // one floor per DISTINCT bigram, both engines computing the same double)
  // and documents sum exact integers: order-free, hash-stable.
  //
  // Scale shape: pair explode is corpus-sized but map-side; the LM is
  // bigram-vocabulary-sized. The scoring join shuffles on (w1, w2) with the
  // LM side orders of magnitude smaller — at 100 TB the LM gets a
  // frequency floor + unigram backoff and BROADCASTS, turning scoring into
  // one map-side pass (same candidate-vs-index discipline as ANN).

  /** (doc_id, n_pairs, micro_logp, band): micro_logp = Σ floor(10⁶·ln
    * p(w2|w1)) over the doc's adjacent token pairs, add-1-smoothed bigram
    * model trained on `docs` itself; band = short | fluent | odd (fluent ⇔
    * mean log-prob ≥ −9 nats/pair). */
  def ngramLmScore(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens.as("t"))
    val pairs = toks.filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("t")) - 1)).as("i"), col("t"))
      .select(col("doc_id"),
        element_at(col("t"), col("i")).as("w1"),
        element_at(col("t"), col("i") + 1).as("w2"))
    val c2 = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = pairs.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = docs.select(explode(tokens).as("tok"))
      .agg(countDistinct(col("tok")).as("vocab"))
    val lm = c2.join(c1, Seq("w1")).crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"),
        floor(lit(1e6) * log((col("c2") + 1.0) / (col("c1") + col("vocab"))))
          .cast("long").as("w_micro"))
    val perDoc = pairs.join(lm, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("w_micro")).as("micro_logp"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("micro_logp"), lit(0L)).as("micro_logp"))
      .withColumn("band",
        when(col("n_pairs") === 0, lit("short"))
          .when(col("micro_logp") >= lit(-9000000L) * col("n_pairs"),
            lit("fluent"))
          .otherwise(lit("odd")))
  }

  /** The 100 TB scoring path the [[ngramLmScore]] scaladoc prescribes: the
    * bigram table is frequency-floored to its top `maxBigrams` entries
    * (deterministic ties: count desc, then pair), pairs outside the kept
    * set back off to 0.4 × the add-1 unigram probability (stupid-backoff),
    * and the ENTIRE model broadcasts — scoring is one map-side pass over
    * the corpus; the only corpus shuffle left is the per-doc partial-agg
    * combine. Same integer micro-nat discipline, so with `maxBigrams` ≥
    * the true bigram count the output is IDENTICAL to [[ngramLmScore]]
    * (LmScoreSpec proves it); smaller floors trade fidelity for a
    * plan-sized model exactly like an ANN index trades recall. */
  def ngramLmScoreBroadcast(docs: DataFrame, maxBigrams: Int): DataFrame = {
    val (lm, backoff, _) = lmFrames(docs, maxBigrams)
    val perDoc = lmPairs(docs)
      .join(broadcast(lm), Seq("w1", "w2"), "left")
      .join(broadcast(backoff), Seq("w2"), "left")
      .select(col("doc_id"), coalesce(col("w_micro"), col("u_micro")).as("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("w")).as("micro_logp"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("micro_logp"), lit(0L)).as("micro_logp"))
      .withColumn("band", lmBand)
  }

  /** A frozen, plan-embeddable LM: integer micro-nat weights for the kept
    * bigrams, backoff weights per unigram, and the OOV constant. Sized by
    * construction: `maxBigrams` + vocabulary entries. */
  final case class LmModel(bigram: Map[(String, String), Long],
      unigram: Map[String, Long], oovMicro: Long)

  /** Collect the floored model for [[lmScoreFrozen]] / streaming use. The
    * collect is bounded by design (maxBigrams + vocab) — the same "model
    * fits on every executor" premise the broadcast path already makes. */
  def trainLmModel(docs: DataFrame, maxBigrams: Int): LmModel = {
    val (lm, backoff, oov) = lmFrames(docs, maxBigrams)
    LmModel(
      lm.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap,
      backoff.collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
      oov)
  }

  /** Score with a FROZEN model riding in the plan: one stateless native
    * expression per row — no explode, no join, no per-doc shuffle, and
    * therefore runs unchanged on streaming frames (the frozen-model
    * discipline, like IVF centroids at stream start). Bit-identical to
    * [[ngramLmScoreBroadcast]] on the training corpus (integer weights,
    * same fold) — LmScoreSpec proves it; on NEW text, unseen words score
    * the OOV constant, which the join formulation cannot express at all. */
  def lmScoreFrozen(docs: DataFrame, model: LmModel): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.LmExprs.lmScore(col("text"),
        model.bigram, model.unigram, model.oovMicro).as("s"))
      .select(col("doc_id"), col("s.n_pairs").as("n_pairs"),
        col("s.micro_logp").as("micro_logp"))
      .withColumn("band", lmBand)

  /** The banding rule shared by every LM-scoring formulation. */
  private def lmBand: Column =
    when(col("n_pairs") === 0, lit("short"))
      .when(col("micro_logp") >= lit(-9000000L) * col("n_pairs"), lit("fluent"))
      .otherwise(lit("odd"))

  /** (doc_id, w1, w2) adjacent-pair explode shared by the LM paths. */
  private def lmPairs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens.as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("t")) - 1)).as("i"), col("t"))
      .select(col("doc_id"),
        element_at(col("t"), col("i")).as("w1"),
        element_at(col("t"), col("i") + 1).as("w2"))

  /** The floored-model frames: (kept-bigram weights, unigram backoff
    * weights, OOV constant), all integer micro-nats. */
  private def lmFrames(docs: DataFrame,
      maxBigrams: Int): (DataFrame, DataFrame, Long) = {
    require(maxBigrams >= 1, s"maxBigrams must be >= 1, got $maxBigrams")
    val pairs = lmPairs(docs)
    val c1 = pairs.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val kept = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      .orderBy(col("c2").desc, col("w1"), col("w2")).limit(maxBigrams)
    val totals = docs.select(explode(tokens).as("tok"))
      .agg(count(lit(1)).as("n_tok"), countDistinct(col("tok")).as("vocab"))
    val lm = kept.join(c1, Seq("w1")).crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"),
        floor(lit(1e6) * log((col("c2") + 1.0) / (col("c1") + col("vocab"))))
          .cast("long").as("w_micro"))
    val backoff = docs.select(explode(tokens).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cu"))
      .crossJoin(broadcast(totals))
      .select(col("tok").as("w2"),
        floor(lit(1e6) *
          log(lit(0.4) * (col("cu") + 1.0) / (col("n_tok") + col("vocab"))))
          .cast("long").as("u_micro"))
    val t = totals.head()
    val oov = math.floor(1e6 * math.log(
      0.4 * 1.0 / (t.getLong(0) + t.getLong(1)))).toLong
    (lm, backoff, oov)
  }

  private def q99(s: SparkSession, dir: String): DataFrame =
    ngramLmScore(Tables.documents(s, dir)).orderBy(col("doc_id"))

  private val q99Sql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      |  FROM documents),
      |pairs AS (
      |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      |  FROM toks, unnest(range(1, len(t))) AS u(i) WHERE len(t) >= 2),
      |c2 AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY 1, 2),
      |c1 AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY 1),
      |v AS (SELECT count(DISTINCT tok) AS vocab FROM (
      |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      |  FROM documents)),
      |lm AS (
      |  SELECT w1, w2,
      |    CAST(floor(1000000 * ln((c2 + 1.0) / (c1 + vocab))) AS BIGINT) AS w_micro
      |  FROM c2 JOIN c1 USING (w1) CROSS JOIN v),
      |perdoc AS (
      |  SELECT doc_id, count(*) AS n_pairs,
      |    CAST(sum(w_micro) AS BIGINT) AS micro_logp
      |  FROM pairs JOIN lm USING (w1, w2) GROUP BY 1)
      |SELECT d.doc_id,
      |  CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
      |  CAST(coalesce(micro_logp, 0) AS BIGINT) AS micro_logp,
      |  CASE WHEN coalesce(n_pairs, 0) = 0 THEN 'short'
      |    WHEN coalesce(micro_logp, 0) >= -9000000 * coalesce(n_pairs, 0)
      |      THEN 'fluent'
      |    ELSE 'odd' END AS band
      |FROM documents d LEFT JOIN perdoc USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // -- BPE-budgeted sequence packing -----------------------------------------
  // q60 packs by whitespace words; a training pipeline budgets context
  // windows in MODEL tokens. Same distributed greedy fold, with the native
  // BpeEncode count as the size column — the q97 merge table, so the oracle
  // reuses the generated replace chain inside the same recursive-CTE replay.

  private def q98(s: SparkSession, dir: String): DataFrame =
    packByTokens(Tables.documents(s, dir).filter(col("doc_id") < 2000),
      budgetTokens = 512L,
      tokenCount = size(bpeTokens(col("text"))).cast("long"))
      .orderBy(col("doc_id"))

  private lazy val q98Sql: String = {
    val base = "'|' || array_to_string(string_split(w, ''), '||') || '|'"
    val chain = BpeMerges.foldLeft(base) { case (acc, (l, r)) =>
      s"replace($acc, '|$l||$r|', '|$l$r|')"
    }
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id,
       |    CAST(coalesce(list_sum(list_transform(
       |      list_filter(string_split(
       |        regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' '),
       |        x -> x <> ''),
       |      w -> len(string_split(trim($chain, '|'), '||')))), 0)
       |      AS BIGINT) AS nt,
       |    row_number() OVER (ORDER BY doc_id) AS rn
       |  FROM documents WHERE doc_id < 2000),
       |fold(rn, doc_id, nt, pack_id, acc) AS (
       |  SELECT rn, doc_id, nt, CAST(0 AS BIGINT), nt FROM d WHERE rn = 1
       |  UNION ALL
       |  SELECT d.rn, d.doc_id, d.nt,
       |    CASE WHEN f.acc + d.nt > 512 THEN f.pack_id + 1 ELSE f.pack_id END,
       |    CASE WHEN f.acc + d.nt > 512 THEN d.nt ELSE f.acc + d.nt END
       |  FROM fold f JOIN d ON d.rn = f.rn + 1)
       |SELECT doc_id, nt AS n_tokens, pack_id FROM fold ORDER BY doc_id""".stripMargin
  }

  // -- stratified sampling ---------------------------------------------------

  /** Deterministic stratified sampling with PER-STRATUM rates — the corpus
    * rebalancing step (downsample the dominant language/source, keep the
    * rare ones). Hash-threshold selection on the stable key: re-running,
    * re-partitioning or growing the corpus never reassigns a row, and the
    * rate table broadcasts — one scan, no shuffle. */
  def stratifiedSample(df: DataFrame, strataCol: String,
      rates: Map[String, Double], defaultRate: Double,
      keyCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // rates become 8-hex-char thresholds compared against the md5 prefix as
    // STRINGS — engine-portable with zero float boundary hazards (hex chars
    // sort in value order; md5 is lowercase hex everywhere)
    def hexThreshold(rate: Double): String = {
      require(rate >= 0.0 && rate <= 1.0, s"rate out of [0,1]: $rate")
      f"${(rate * 4294967296.0).toLong.min(0xffffffffL)}%08x"
    }
    val rateDf = rates.toSeq.map { case (k, r) => (k, hexThreshold(r)) }
      .toDF(strataCol, "__threshold")
    df.join(broadcast(rateDf), Seq(strataCol), "left")
      .filter(substring(md5(col(keyCol).cast("string")), 1, 8) <
        coalesce(col("__threshold"), lit(hexThreshold(defaultRate))))
      .drop("__threshold")
  }

  private def q61(s: SparkSession, dir: String): DataFrame =
    stratifiedSample(Tables.documents(s, dir), "lang",
      Map("en" -> 0.1, "de" -> 0.5), defaultRate = 0.9, keyCol = "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"), min(col("doc_id")).as("min_id"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))

  private val q61Sql =
    """SELECT lang, count(*) AS n_sampled, min(doc_id) AS min_id,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
      |    < CASE lang WHEN 'en' THEN '19999999' WHEN 'de' THEN '80000000'
      |                ELSE 'e6666666' END
      |GROUP BY lang ORDER BY lang""".stripMargin

  // -- repetition-based quality metrics (Gopher-style) -----------------------

  /** Per-document repetition metrics: distinct-token ratio and the fraction
    * of all bigrams taken by the single most frequent bigram — the standard
    * "repetitious document" quality signals. Pure column program over
    * non-distinct bigrams (zip_with of the shifted token list).
    *
    * The mode count is computed in O(n log n) per row: sort the bigram
    * list, then one linear `aggregate` pass tracks the longest run of
    * equal adjacent elements (the sorted-array mode). The obvious
    * distinct×occurrences scan is O(n²) per row — a single 100k-token
    * document would cost 10^10 comparisons inside ONE task at scale, so
    * that shape is banned here. Tokens are non-empty (Tok.ws filters
    * empties), so the "" run seed can never match a real bigram. */
  def repetitionMetrics(docs: DataFrame): DataFrame = {
    val toks = Tok.ws(col("text"))
    val n = size(toks)
    val bigrams = zip_with(
      slice(toks, lit(1), greatest(n - 1, lit(0))),
      slice(toks, lit(2), greatest(n - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    val topRun = aggregate(
      array_sort(col("bg")),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc("prev"), acc("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc("best"), run).as("best"))
      },
      acc => acc("best"))
    docs
      .withColumn("n_tokens", n.cast("long"))
      .withColumn("distinct_ratio",
        when(n > 0, size(array_distinct(toks)).cast("double") / n))
      .withColumn("bg", bigrams)
      .withColumn("top_bigram_count",
        when(size(col("bg")) > 0, topRun).otherwise(lit(0)))
      .withColumn("top_bigram_frac", when(size(col("bg")) > 0,
        col("top_bigram_count").cast("double") / size(col("bg"))))
      .drop("bg")
  }

  private def q62(s: SparkSession, dir: String): DataFrame =
    repetitionMetrics(Tables.documents(s, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("n_tokens"),
        QueryDef.dec4(col("distinct_ratio")).as("distinct_ratio"),
        col("top_bigram_count").cast("long").as("top_bigram_count"),
        QueryDef.dec4(col("top_bigram_frac")).as("top_bigram_frac"))
      .orderBy(col("doc_id"))

  private val q62Sql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      |  FROM documents),
      |base AS (
      |  SELECT doc_id, len(t) AS n_tokens,
      |    CASE WHEN len(t) > 0
      |      THEN CAST(len(list_distinct(t)) AS DOUBLE) / len(t) END AS distinct_ratio,
      |    CASE WHEN len(t) >= 2
      |      THEN [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]
      |      ELSE [] END AS bg
      |  FROM toks),
      |tb AS (
      |  SELECT doc_id, n_tokens, distinct_ratio,
      |    CASE WHEN len(bg) > 0 THEN
      |      list_max(list_transform(list_distinct(bg),
      |        g -> len(list_filter(bg, x -> x = g))))
      |    ELSE 0 END AS top_bigram_count,
      |    len(bg) AS n_bigrams
      |  FROM base)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(CAST(distinct_ratio AS DECIMAL(38,4)) AS VARCHAR) AS distinct_ratio,
      |  CAST(top_bigram_count AS BIGINT) AS top_bigram_count,
      |  CAST(CAST(CASE WHEN n_bigrams > 0
      |    THEN CAST(top_bigram_count AS DOUBLE) / n_bigrams END
      |    AS DECIMAL(38,4)) AS VARCHAR) AS top_bigram_frac
      |FROM tb ORDER BY doc_id""".stripMargin

  // ==== q79: top-k tokens per source via the bounded top-k aggregate ======
  //
  // The window formulation (rank() OVER (PARTITION BY source ORDER BY cnt))
  // shuffles every (source, token, cnt) row to its source's reducer and
  // sorts whole groups; TopKAgg keeps a k-capped buffer in every partial,
  // so at most k rows per (task, source) cross the final shuffle and no
  // reducer sorts a full vocabulary — the skew-safe per-group top-k at
  // 100 TB. Ties rank by descending token (the struct order), mirrored in
  // the oracle's ORDER BY.
  private def q79(s: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(s, dir)
      .select(col("source"), explode(Tok.ws(col("text"))).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("cnt"))
    tf.groupBy(col("source"))
      .agg(graft.functions.TopKAgg.of(
        struct(col("cnt"), col("token")), 3).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("rank0", "t")))
      .select(col("source"), (col("rank0") + 1).as("rank"),
        col("t.token").as("token"), col("t.cnt").as("cnt"))
      .orderBy(col("source"), col("rank"))
  }

  private val q79Sql =
    """WITH tf AS (
      |  SELECT source,
      |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
      |  FROM documents),
      |c AS (SELECT source, token, count(*) AS cnt FROM tf GROUP BY 1, 2),
      |r AS (
      |  SELECT source, token, cnt,
      |    row_number() OVER (PARTITION BY source
      |                       ORDER BY cnt DESC, token DESC) AS rank
      |  FROM c)
      |SELECT source, CAST(rank AS INT) AS rank, token, cnt
      |FROM r WHERE rank <= 3 ORDER BY source, rank""".stripMargin

  // -- context-window chunking (training-batch prep) -------------------------
  // Long documents don't fit a model's context: split each doc into
  // overlapping token windows of maxLen with the given stride (the standard
  // sliding-window pretraining prep). Pure map-side program — tokenization,
  // the start-offset explode, and the slice all happen inside one codegen'd
  // stage on the scan; no shuffle at any corpus size. Window identity is
  // (doc_id, window_idx), so downstream packing/dedup can key on it.

  /** (doc_id, window_idx, start_tok, n_tok, window_text) per window. */
  def contextWindows(docs: DataFrame, maxLen: Int, stride: Int): DataFrame = {
    require(stride > 0 && maxLen >= stride,
      s"need 0 < stride <= maxLen, got maxLen=$maxLen stride=$stride")
    docs.select(col("doc_id"), tokens.as("t"))
      .withColumn("n", size(col("t")))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("t"), col("n"),
        explode(sequence(lit(0), col("n") - 1, lit(stride))).as("start_tok"))
      .select(col("doc_id"),
        (col("start_tok") / lit(stride)).cast("long").as("window_idx"),
        col("start_tok").cast("long").as("start_tok"),
        least(lit(maxLen), col("n") - col("start_tok")).cast("long").as("n_tok"),
        concat_ws(" ", slice(col("t"), col("start_tok") + 1, lit(maxLen)))
          .as("window_text"))
  }

  private def q82(s: SparkSession, dir: String): DataFrame =
    contextWindows(Tables.documents(s, dir), maxLen = 64, stride = 48)
      .orderBy(col("doc_id"), col("start_tok"))

  private val q82Sql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      |  FROM documents)
      |SELECT doc_id, i // 48 AS window_idx, i AS start_tok,
      |  least(64, len(t) - i) AS n_tok,
      |  array_to_string(t[i+1:i+64], ' ') AS window_text
      |FROM toks, unnest(range(0, len(t), 48)) AS u(i)
      |WHERE len(t) > 0
      |ORDER BY doc_id, start_tok""".stripMargin

  // -- BPE merge-step pair counting (vocabulary building) --------------------
  // The inner loop of byte-pair-encoding training: count adjacent symbol
  // pairs across the corpus, weighted by word frequency. The classic scale
  // trick is built in: pairs explode over the DISTINCT word table (vocabulary-
  // sized, not corpus-sized) while corpus mass rides along as the word's
  // frequency — at 100 TB the explode input is the vocabulary (~10⁶ rows),
  // and the only corpus-sized operation is the map-side-combinable word
  // count.

  /** Top-`k` adjacent character pairs by frequency-weighted count. */
  def bpePairCounts(docs: DataFrame, k: Int): DataFrame = {
    val wf = docs.select(explode(tokens).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
    wf.filter(length(col("token")) >= 2)
      .select(col("token"), col("freq"),
        explode(sequence(lit(1), length(col("token")) - 1)).as("i"))
      .select(col("token").substr(col("i"), lit(1)).as("left_sym"),
        col("token").substr(col("i") + 1, lit(1)).as("right_sym"),
        col("freq"))
      .groupBy(col("left_sym"), col("right_sym"))
      .agg(sum(col("freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("left_sym"), col("right_sym"))
      .limit(k)
  }

  private def q83(s: SparkSession, dir: String): DataFrame =
    bpePairCounts(Tables.documents(s, dir), k = 20)

  private val q83Sql =
    """WITH tok AS (
      |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
      |  FROM documents),
      |wf AS (SELECT token, count(*) AS freq FROM tok GROUP BY 1),
      |pairs AS (
      |  SELECT substr(token, i, 1) AS left_sym, substr(token, i + 1, 1) AS right_sym,
      |    CAST(sum(freq) AS BIGINT) AS cnt
      |  FROM wf, unnest(range(1, len(token))) AS u(i)
      |  WHERE len(token) >= 2
      |  GROUP BY 1, 2)
      |SELECT left_sym, right_sym, cnt FROM pairs
      |ORDER BY cnt DESC, left_sym, right_sym LIMIT 20""".stripMargin

  // -- BPE merge-table APPLY (true token counts) -----------------------------
  // q83 is the TRAINING inner loop (pair counting); this is the ENCODE side:
  // apply a trained merge table and count real BPE tokens, so token-budget
  // operators can budget in model tokens instead of whitespace words. The
  // tokenizer is the native `BpeEncode` expression (one pass per merge,
  // leftmost-non-overlapping — see its scaladoc for the equivalence proof
  // with the classic highest-rank-first loop on well-formed tables). The
  // oracle replays the EXACT same algorithm as an unrolled replace chain
  // over a '|'-delimited token string (delimiters make cross-token false
  // matches impossible; replace's leftmost-non-overlap IS the BPE pass
  // law), generated from the same Scala merge-table constant so the two
  // sides cannot drift.

  /** A fixed well-formed demo merge table (each part is a char or the
    * product of an earlier merge — the only shape BPE training emits).
    * Chains to whole corpus words: …(ta,b)(tab,le)→"table",
    * (s,p)(sp,ar)(spar,k)→"spark", (l,u)(lu,e)→"lue". */
  val BpeMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("s", "t"), ("t", "a"),
    ("l", "u"), ("l", "e"), ("a", "r"), ("lu", "e"), ("ta", "b"),
    ("tab", "le"), ("s", "p"), ("sp", "ar"), ("spar", "k"))

  /** Normalized text column both engines tokenize identically. */
  private def bpeNorm(text: Column): Column =
    regexp_replace(lower(text), "[^a-z0-9 ]", "")

  /** BPE tokens of `text` under `merges` (normalized first) — reusable by
    * the packing/budget operators that want model-token counts. */
  def bpeTokens(text: Column,
      merges: Seq[(String, String)] = BpeMerges): Column =
    graft.functions.BpeExprs.bpeEncode(bpeNorm(text), merges)

  /** Per-doc true-token accounting: (doc_id, n_ws_tokens, n_bpe_tokens,
    * n_merged_tokens). Map-side only — the merge table rides in the plan. */
  def bpeTokenCounts(docs: DataFrame,
      merges: Seq[(String, String)] = BpeMerges): DataFrame =
    docs.select(col("doc_id"),
      size(Tok.ws(bpeNorm(col("text")))).cast("long").as("n_ws_tokens"),
      bpeTokens(col("text"), merges).as("__bpe"))
      .select(col("doc_id"), col("n_ws_tokens"),
        size(col("__bpe")).cast("long").as("n_bpe_tokens"),
        size(filter(col("__bpe"), t => length(t) > 1)).cast("long")
          .as("n_merged_tokens"))

  private def q97(s: SparkSession, dir: String): DataFrame =
    bpeTokenCounts(Tables.documents(s, dir)).orderBy(col("doc_id"))

  /** The oracle's per-word encode: '|tok||tok|…|' with one replace per
    * merge in rank order. Generated from [[BpeMerges]]. */
  private lazy val q97Sql: String = {
    val base = "'|' || array_to_string(string_split(w, ''), '||') || '|'"
    val chain = BpeMerges.foldLeft(base) { case (acc, (l, r)) =>
      s"replace($acc, '|$l||$r|', '|$l$r|')"
    }
    s"""WITH norm AS (
       |  SELECT doc_id,
       |    list_filter(string_split(
       |      regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' '),
       |      x -> x <> '') AS words
       |  FROM documents),
       |enc AS (
       |  SELECT doc_id, len(words) AS n_ws,
       |    list_transform(words, w ->
       |      string_split(trim($chain, '|'), '||')) AS wt
       |  FROM norm)
       |SELECT doc_id, CAST(n_ws AS BIGINT) AS n_ws_tokens,
       |  CAST(coalesce(list_sum(list_transform(wt, t -> len(t))), 0)
       |    AS BIGINT) AS n_bpe_tokens,
       |  CAST(coalesce(list_sum(list_transform(wt, t ->
       |      len(list_filter(t, u -> len(u) > 1)))), 0)
       |    AS BIGINT) AS n_merged_tokens
       |FROM enc ORDER BY doc_id""".stripMargin
  }

  // -- linear classifier scoring via the hashing trick -----------------------
  // The quality-filter step of production pipelines (fastText/VW-style): a
  // linear model over hashed token features, scored in one map-side pass —
  // no vocabulary table, no shuffle, no UDF. The per-token weight here is
  // derived from the token's own md5 (a deterministic stand-in for learned
  // weights — a trained model would broadcast its weight array and index it
  // by the same hash, identical plumbing and cost). Weights are INTEGERS and
  // the doc score folds over the token array sequentially, so the score is
  // exact and engine-portable: no float summation order anywhere.

  /** (doc_id, n_tokens, score, decision): score = Σ w(token) with
    * w = first-two-hex-digits(md5(token)) − 128 ∈ [−128, 127]. */
  def classifierScore(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens.as("t"))
      .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
        aggregate(col("t"), lit(0L), (acc, tok) =>
          acc + conv(substring(md5(tok), 1, 2), 16, 10).cast("long") - 128)
          .as("score"))
      .withColumn("decision",
        when(col("score") >= 0, lit("keep")).otherwise(lit("drop")))

  private def q84(s: SparkSession, dir: String): DataFrame =
    classifierScore(Tables.documents(s, dir)).orderBy(col("doc_id"))

  private val q84Sql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      |  FROM documents),
      |scored AS (
      |  SELECT doc_id, len(t) AS n_tokens,
      |    CAST(coalesce(list_aggregate(list_transform(t, tok ->
      |      (strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
      |      + strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1 - 128),
      |      'sum'), 0) AS BIGINT) AS score
      |  FROM toks)
      |SELECT doc_id, n_tokens, score,
      |  CASE WHEN score >= 0 THEN 'keep' ELSE 'drop' END AS decision
      |FROM scored ORDER BY doc_id""".stripMargin

  // -- quantile-threshold quality pruning ------------------------------------
  // "Keep the best p% of the corpus by score" — the standard curation step
  // after classifier scoring (absolute thresholds drift as the corpus mix
  // changes; a quantile threshold is self-calibrating). The threshold is ONE
  // scalar aggregate over the already-map-side scores, broadcast back as a
  // single-row crossJoin (the scalar-stat idiom) — the corpus never
  // shuffles. Exact `percentile` keeps O(distinct scores) aggregate state —
  // bounded here because scores are integers in a ±128·len range; at 100 TB
  // with unbounded score domains swap in approx_percentile (a fixed-size
  // sketch) and accept the documented rank error.

  /** Rows of `scored` (any frame with an integer `score` column) at or
    * above the q-th corpus score quantile, with the threshold attached as
    * `threshold`. */
  def filterByScoreQuantile(scored: DataFrame, q: Double): DataFrame = {
    require(q > 0 && q < 1, s"quantile must be in (0,1), got $q")
    val thr = scored.agg(expr(s"percentile(score, $q)").as("threshold"))
    scored.crossJoin(broadcast(thr)).filter(col("score") >= col("threshold"))
  }

  // Gate: prune the corpus to the top-25% classifier scores; emit the kept
  // summary plus the interpolated threshold. Scores are exact integers and
  // the percentile interpolation arithmetic is identical in both engines
  // (q44 established the percentile/quantile_cont parity), so the row is
  // hash-matched, not bounded.
  private def q95(s: SparkSession, dir: String): DataFrame = {
    // checkpoint: three consumers (threshold agg, the filter, the total
    // count) would each re-run the md5-per-token scoring fold — the
    // dominant cost of the query (measured 0.75 sf1 exponent lazy, linear
    // after); scored is (doc_id, n_tokens, score) — tiny relative to text
    val scored = classifierScore(Tables.documents(s, dir)).localCheckpoint()
    val total = scored.agg(count(lit(1)).as("n_total"))
    filterByScoreQuantile(scored, q = 0.75)
      .agg(count(lit(1)).as("n_kept"),
        min(col("score")).as("min_kept_score"),
        sum(col("n_tokens")).cast("long").as("kept_tokens"),
        QueryDef.dec4(first(col("threshold"))).as("threshold"))
      .crossJoin(total)
      .select(col("n_kept"), col("n_total"), col("min_kept_score"),
        col("kept_tokens"), col("threshold"))
  }

  private val q95Sql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      |  FROM documents),
      |scored AS (
      |  SELECT doc_id, len(t) AS n_tokens,
      |    CAST(coalesce(list_aggregate(list_transform(t, tok ->
      |      (strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
      |      + strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1 - 128),
      |      'sum'), 0) AS BIGINT) AS score
      |  FROM toks),
      |thr AS (SELECT quantile_cont(score, 0.75) AS threshold FROM scored)
      |SELECT count(*) AS n_kept,
      |  (SELECT count(*) FROM scored) AS n_total,
      |  min(score) AS min_kept_score,
      |  CAST(sum(n_tokens) AS BIGINT) AS kept_tokens,
      |  CAST(CAST(max(threshold) AS DECIMAL(38,4)) AS VARCHAR) AS threshold
      |FROM scored, thr WHERE score >= threshold""".stripMargin

  // ==== q109: Unicode canonicalization (dedup robustness) ===================
  //
  // The same visible text arrives composed (á = U+00E1) or decomposed
  // (a + U+0301) depending on its producer, and hash dedup misses the
  // duplicate unless the corpus is canonicalized. The gate plants the
  // decomposed form on every 'a' (the corpus is ASCII, so the planting is
  // total and reversible), then proves NFC recomposes it to the composed
  // plant and strip-accents recovers the original — md5s + booleans on
  // both engines (DuckDB nfc_normalize / strip_accents). All map-side
  // expressions on the scan; NFKC compatibility folding is spec-covered
  // (LayoutSpec-style hand cases) since DuckDB has no NFKC twin.

  private def q109(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextNormalize
    val decomposed = regexp_replace(col("text"), "a", "a\u0301")
    val composed = regexp_replace(col("text"), "a", "\u00e1")
    Tables.documents(s, dir).select(col("doc_id"),
        md5(TextNormalize.normalize(decomposed, "NFC")).as("md5_nfc"),
        md5(composed).as("md5_composed"),
        (TextNormalize.normalize(decomposed, "NFC") === composed).as("nfc_ok"),
        md5(TextNormalize.stripAccents(decomposed)).as("md5_stripped"),
        (TextNormalize.stripAccents(decomposed) === col("text")).as("strip_ok"))
      .orderBy(col("doc_id"))
  }

  private val q109Sql =
    """SELECT doc_id,
      |  md5(nfc_normalize(replace(text, 'a', 'a' || chr(769)))) AS md5_nfc,
      |  md5(replace(text, 'a', chr(225))) AS md5_composed,
      |  nfc_normalize(replace(text, 'a', 'a' || chr(769)))
      |    = replace(text, 'a', chr(225)) AS nfc_ok,
      |  md5(strip_accents(replace(text, 'a', 'a' || chr(769)))) AS md5_stripped,
      |  strip_accents(replace(text, 'a', 'a' || chr(769))) = text AS strip_ok
      |FROM documents ORDER BY doc_id""".stripMargin

  // ==== q249: Flesch reading-ease readability ================================
  //
  // The classic curation signal between raw length stats (q32) and a
  // trained classifier (q184): score = 206.835 − 1.015·(words/sentences)
  // − 84.6·(syllables/words). Syllables use the standard vowel-group
  // heuristic — max(1, #maximal [aeiouy]+ runs per token) — and sentences
  // count [.!?]+ runs (min 1). Both are plain regexp counts with
  // identical semantics in Java regex and RE2, so every per-doc input is
  // an exact integer; the score is ONE double expression per doc,
  // micro-floored (the q195/q99 rule), and per-source aggregation sums
  // integers. Scale shape: one corpus pass, one source-domain groupBy.

  /** Per source: (source, n_docs, avg_flesch, n_easy, n_standard,
    * n_difficult) — bands at score ≥ 70 / [50, 70) / < 50. Empty-token
    * docs are excluded (words = 0 has no defined score). */
  def readability(docs: DataFrame): DataFrame = {
    val t = Tok.ws(col("text"))
    val perDoc = docs
      .select(col("source"), size(t).cast("long").as("w"),
        greatest(lit(1L),
          regexp_count(col("text"), lit("[.!?]+")).cast("long")).as("s"),
        aggregate(t, lit(0L), (acc, tok) => acc + greatest(lit(1L),
          regexp_count(lower(tok), lit("[aeiouy]+")).cast("long")))
          .as("syl"))
      .filter(col("w") > 0)
      .select(col("source"),
        floor(lit(1e6) * (lit(206.835)
          - lit(1.015) * col("w").cast("double") / col("s").cast("double")
          - lit(84.6) * col("syl").cast("double") / col("w").cast("double")))
          .cast("long").as("sc"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("sc")).as("sum_sc"),
        sum(when(col("sc") >= 70000000L, 1L).otherwise(0L)).as("n_easy"),
        sum(when(col("sc") >= 50000000L && col("sc") < 70000000L, 1L)
          .otherwise(0L)).as("n_standard"),
        sum(when(col("sc") < 50000000L, 1L).otherwise(0L)).as("n_difficult"))
      .select(col("source"), col("n_docs"),
        QueryDef.dec4(col("sum_sc").cast("double") /
          (col("n_docs").cast("double") * lit(1e6))).as("avg_flesch"),
        col("n_easy"), col("n_standard"), col("n_difficult"))
      .orderBy(col("source"))
  }

  private def q249(s: SparkSession, dir: String): DataFrame =
    readability(Tables.documents(s, dir))

  private val q249Sql =
    """WITH perdoc AS (
      |  SELECT source,
      |    CAST(floor(1000000.0 * (206.835
      |      - 1.015 * CAST(w AS DOUBLE) / CAST(s AS DOUBLE)
      |      - 84.6 * CAST(syl AS DOUBLE) / CAST(w AS DOUBLE)))
      |      AS BIGINT) AS sc
      |  FROM (
      |    SELECT source, CAST(len(toks) AS BIGINT) AS w,
      |      greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+'))
      |        AS BIGINT)) AS s,
      |      CAST(list_sum(list_transform(toks, tok -> greatest(1,
      |        len(regexp_extract_all(lower(tok), '[aeiouy]+')))))
      |        AS BIGINT) AS syl
      |    FROM (SELECT source, text, list_filter(string_split(text, ' '),
      |        x -> x <> '') AS toks FROM documents))
      |  WHERE w > 0)
      |SELECT source, count(*) AS n_docs,
      |  CAST(CAST(CAST(sum(sc) AS DOUBLE)
      |    / (CAST(count(*) AS DOUBLE) * 1000000.0)
      |    AS DECIMAL(38,4)) AS VARCHAR) AS avg_flesch,
      |  CAST(sum(CASE WHEN sc >= 70000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_easy,
      |  CAST(sum(CASE WHEN sc >= 50000000 AND sc < 70000000
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_standard,
      |  CAST(sum(CASE WHEN sc < 50000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_difficult
      |FROM perdoc GROUP BY source ORDER BY source""".stripMargin

  // ==== q301: Coleman–Liau readability index =================================
  //
  // The syllable-free readability companion to q249's Flesch: CLI =
  // 0.0588·L − 0.296·S − 15.8 over pure CHARACTER counts (L = letters
  // per 100 words, S = sentence terminators per 100 words) — no syllable
  // heuristic to drift between engines, every input an exact integer
  // from two regex strips and the token count, the index one fixed
  // double chain. Grade-level semantics make it the quality-pruning
  // threshold most corpus pipelines actually publish.

  /** Per doc: (doc_id, n_words, n_letters, n_sentences, cli). The index
    * is the exact rational (588·L − 2960·S − 1580·W)/(100·W) — the CLI
    * constants are 2-decimal, so ONE division of exact integers gives
    * the bit-identical double in any engine (a naive 0.0588·(100L/W)
    * chain lands the fixture's doc 295 exactly on a decimal(38,4)
    * rounding tie and the engines split). */
  def colemanLiau(docs: DataFrame): DataFrame = {
    val words = size(Tok.ws(col("text"))).cast("long")
    val letters = length(regexp_replace(col("text"), "[^A-Za-z]", ""))
      .cast("long")
    val sents = length(regexp_replace(col("text"), "[^.!?]", "")).cast("long")
    docs
      .withColumn("n_words", words)
      .withColumn("n_letters", letters)
      .withColumn("n_sentences", sents)
      .withColumn("cli", when(col("n_words") > 0,
        (lit(588L) * col("n_letters") - lit(2960L) * col("n_sentences") -
          lit(1580L) * col("n_words")).cast("double") /
          (lit(100L) * col("n_words")).cast("double")))
  }

  private def q301(s: SparkSession, dir: String): DataFrame =
    colemanLiau(Tables.documents(s, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("n_words"), col("n_letters"),
        col("n_sentences"),
        floor(lit(1e4) * col("cli")).cast("long").as("cli_e4"))
      .orderBy(col("doc_id"))

  private val q301Sql =
    """WITH f AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
      |      AS BIGINT) AS w,
      |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
      |      AS BIGINT) AS l,
      |    CAST(length(regexp_replace(text, '[^.!?]', '', 'g')) AS BIGINT)
      |      AS s
      |  FROM documents)
      |SELECT doc_id, w AS n_words, l AS n_letters, s AS n_sentences,
      |  CAST(CASE WHEN w > 0 THEN floor(1e4
      |    * (CAST(588 * l - 2960 * s - 1580 * w AS DOUBLE)
      |      / CAST(100 * w AS DOUBLE))) END AS BIGINT) AS cli_e4
      |FROM f ORDER BY doc_id""".stripMargin

  // ==== q302: MSTTR — mean segmental type-token ratio =========================
  //
  // Length-robust lexical diversity: the raw TTR of q31's family falls
  // mechanically with document length (types saturate), so corpus work
  // reports the MEAN over fixed 50-token segments — comparable across
  // lengths. Exactness: per-segment distinct counts are integers, the
  // doc-level mean is ONE division of their sum by 50·n_segments;
  // incomplete tail segments are excluded by definition. The explode is
  // linear and the (doc, segment) group domain is corpus-size/50.

  /** Per doc: (doc_id, n_segments, msttr) over `segTokens`-token
    * segments; docs without a complete segment report null. */
  def msttr(docs: DataFrame, segTokens: Int = 50): DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode(Tok.ws(col("text"))).as(Seq("pos", "tok")))
    val segs = toks
      .groupBy(col("doc_id"), (col("pos") / segTokens).cast("long").as("seg"))
      .agg(count(lit(1)).as("n"), countDistinct(col("tok")).as("nd"))
      .filter(col("n") === segTokens)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"), sum(col("nd")).as("snd"))
    docs.select(col("doc_id")).join(segs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        when(col("n_segments") > 0, col("snd").cast("double") /
          (col("n_segments").cast("double") * segTokens)).as("msttr"))
  }

  private def q302(s: SparkSession, dir: String): DataFrame =
    msttr(Tables.documents(s, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("n_segments"),
        QueryDef.dec4(col("msttr")).as("msttr"))
      .orderBy(col("doc_id"))

  private val q302Sql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
      |    AS t
      |  FROM documents),
      |segs AS (
      |  SELECT doc_id, len(t) // 50 AS n_segments,
      |    [len(list_distinct(t[i*50+1 : (i+1)*50]))
      |      FOR i IN range(0, len(t) // 50)] AS nds
      |  FROM toks)
      |SELECT doc_id, CAST(n_segments AS BIGINT) AS n_segments,
      |  CAST(CAST(CASE WHEN n_segments > 0
      |    THEN CAST(list_sum(nds) AS DOUBLE)
      |      / (CAST(n_segments AS DOUBLE) * 50) END
      |    AS DECIMAL(38,4)) AS VARCHAR) AS msttr
      |FROM segs ORDER BY doc_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q301_coleman_liau", q301, Some(q301Sql)),
    QueryDef("q302_msttr", q302, Some(q302Sql)),
    QueryDef("q249_readability", q249, Some(q249Sql)),
    QueryDef("q109_unicode_normalize", q109, Some(q109Sql)),
    QueryDef("q99_lm_score", q99, Some(q99Sql)),
    QueryDef("q98_bpe_packing", q98, Some(q98Sql)),
    QueryDef("q97_bpe_encode", q97, Some(q97Sql)),
    QueryDef("q95_quality_prune", q95, Some(q95Sql)),
    QueryDef("q84_classifier_score", q84, Some(q84Sql)),
    QueryDef("q82_context_windows", q82, Some(q82Sql)),
    QueryDef("q83_bpe_pair_counts", q83, Some(q83Sql)),
    QueryDef("q79_top_tokens_per_source", q79, Some(q79Sql)),
    QueryDef("q61_stratified_sample", q61, Some(q61Sql)),
    QueryDef("q62_repetition_quality", q62, Some(q62Sql)),
    QueryDef("q59_decontaminate", q59, Some(q59Sql)),
    QueryDef("q60_token_packing", q60, Some(q60Sql)),
    QueryDef("q55_hash_split", q55, Some(q55Sql)),
    QueryDef("q54_tfidf", q54, Some(q54Sql)),
    QueryDef("q39_token_count", q39, Some(q39Sql)),
    QueryDef("q40_dedup_keep_first", q40, Some(q40Sql)),
    QueryDef("q30_dedup_exact", q30, Some(q30Sql)),
    QueryDef("q31_top_tokens", q31, Some(q31Sql)),
    QueryDef("q32_quality_score", q32, Some(q32Sql)),
    QueryDef("q33_lang_id", q33, Some(q33Sql)),
    QueryDef("q34_fingerprint", q34, Some(q34Sql)))
}
