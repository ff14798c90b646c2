package graft.operators

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, language-ID heuristic, document fingerprinting.
  * Beyond-reference surface (SURVEY.md §7 step 5). All are pure
  * per-row expression pipelines — embarrassingly parallel, no shuffle,
  * fully codegen'd built-ins.
  */
object TextOps {

  type Q = (SparkSession, String) => DataFrame

  private val stopwords = Seq("the", "a", "and", "of", "to", "is", "in")

  private val textTokens: Q = (s, dir) =>
    load(s, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("n_tokens"),
        length(col("text")).as("n_chars_calc"),
        col("n_chars"),
        size(filter(split(col("text"), "[^a-z0-9]+"), t => t =!= "")).as("n_alnum_tokens"))
      .orderBy(col("doc_id"))

  private val textTokensSql =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
      |  CAST(length(text) AS INTEGER) AS n_chars_calc,
      |  n_chars,
      |  CAST(len(list_filter(regexp_split_to_array(text, '[^a-z0-9]+'), t -> t <> '')) AS INTEGER) AS n_alnum_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  private val textQuality: Q = (s, dir) => {
    val words = split(col("text"), " ")
    val nWords = size(words)
    val stopCount = size(filter(words, w => w.isin(stopwords: _*)))
    load(s, dir, "documents")
      .select(col("doc_id"),
        nWords.as("n_words"),
        round(length(regexp_replace(col("text"), " ", "")).cast("double") / nWords, 6).as("avg_word_len"),
        round(stopCount.cast("double") / nWords, 6).as("stop_ratio"),
        round(size(array_distinct(words)).cast("double") / nWords, 6).as("ttr"),
        (nWords >= 20 && (stopCount.cast("double") / nWords) > 0.02).as("is_quality"))
      .orderBy(col("doc_id"))
  }

  private val textQualitySql =
    s"""SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
       |  round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')), 6) AS avg_word_len,
       |  round(CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','a','and','of','to','is','in'))) AS DOUBLE)
       |    / len(string_split(text, ' ')), 6) AS stop_ratio,
       |  round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')), 6) AS ttr,
       |  (len(string_split(text, ' ')) >= 20 AND
       |   CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','a','and','of','to','is','in'))) AS DOUBLE)
       |    / len(string_split(text, ' ')) > 0.02) AS is_quality
       |FROM documents ORDER BY doc_id""".stripMargin

  /** stopword-profile language scorer (n-gram-heuristic shaped): score
    * text against per-language marker-token profiles, argmax with a
    * deterministic preference order. */
  private val textLangId: Q = (s, dir) => {
    val words = split(col("text"), " ")
    def score(markers: Seq[String]) = size(filter(words, w => w.isin(markers: _*)))
    val sEn = score(Seq("the", "a", "is"))
    val sQy = score(Seq("query", "table", "row"))
    val sDt = score(Seq("data", "batch", "stream"))
    load(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        sEn.as("score_en"), sQy.as("score_qy"), sDt.as("score_dt"),
        when(sEn >= sQy && sEn >= sDt, "en")
          .when(sQy >= sDt, "qy").otherwise("dt").as("lang_pred"))
      .orderBy(col("doc_id"))
  }

  private val textLangIdSql =
    """SELECT doc_id, lang,
      |  CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','a','is'))) AS INTEGER) AS score_en,
      |  CAST(len(list_filter(string_split(text, ' '), w -> w IN ('query','table','row'))) AS INTEGER) AS score_qy,
      |  CAST(len(list_filter(string_split(text, ' '), w -> w IN ('data','batch','stream'))) AS INTEGER) AS score_dt,
      |  CASE
      |    WHEN len(list_filter(string_split(text, ' '), w -> w IN ('the','a','is')))
      |      >= len(list_filter(string_split(text, ' '), w -> w IN ('query','table','row')))
      |     AND len(list_filter(string_split(text, ' '), w -> w IN ('the','a','is')))
      |      >= len(list_filter(string_split(text, ' '), w -> w IN ('data','batch','stream'))) THEN 'en'
      |    WHEN len(list_filter(string_split(text, ' '), w -> w IN ('query','table','row')))
      |      >= len(list_filter(string_split(text, ' '), w -> w IN ('data','batch','stream'))) THEN 'qy'
      |    ELSE 'dt' END AS lang_pred
      |FROM documents ORDER BY doc_id""".stripMargin

  // canonicalized content fingerprint (whitespace-normalized, lowercased)
  private val textFingerprint: Q = (s, dir) =>
    load(s, dir, "documents")
      .select(col("doc_id"),
        md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("fp"),
        substring(md5(lower(regexp_replace(col("text"), "\\s+", " "))), 1, 8).as("fp_short"))
      .orderBy(col("doc_id"))

  private val textFingerprintSql =
    """SELECT doc_id,
      |  md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp,
      |  substr(md5(lower(regexp_replace(text, '\s+', ' ', 'g'))), 1, 8) AS fp_short
      |FROM documents ORDER BY doc_id""".stripMargin

  /** corpus-wide heavy hitters via the custom space-saving aggregate
    * (graft.functions.TopKFreq): constant-memory mergeable sketch —
    * no full-word shuffle at scale. Capacity 64 ≥ this corpus's
    * vocabulary, so the sketch is exact and oracle-checkable. */
  /** Sketch-then-recount top words (round 14): the space-saving sketch
    * nominates candidates, an exact recount of ONLY those candidates
    * scores them, and the exact top-32 ships. The r13 face dumped the
    * raw capacity-64 sketch with a full-vocabulary oracle — exact only
    * because the sf0.01 vocabulary (64 words) happened to fit the
    * capacity; the sf1 corpus (76 drifted words) overflowed it and the
    * oracle diverged (r14 sf1 pass). This shape is also what a 100 TB
    * pipeline runs: sketch pass + a broadcast-candidate recount, exact
    * whenever every true top-32 word clears the space-saving retention
    * bound N/128 — a property the recount makes VISIBLE as a count
    * mismatch instead of silently wrong sketch estimates. */
  private val textTopWords: Q = (s, dir) => {
    val words = load(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
    val cand = words
      .agg(graft.functions.TopKFreq.topk_freq(col("w"), 128).as("sketch"))
      .select(explode(col("sketch")).as("s"))
      .select(col("s.word").as("word"))
    words.join(broadcast(cand), col("w") === col("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(32)
  }

  private val textTopWordsSql =
    """SELECT w AS word, COUNT(*) AS cnt
      |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
      |GROUP BY w ORDER BY cnt DESC, word LIMIT 32""".stripMargin

  /** Benchmark decontamination: training docs sharing any 4-word shingle
    * with the benchmark slice (doc_id < 20) are flagged with their
    * distinct-overlap count. Scale design: the benchmark shingle set is
    * tiny relative to the corpus → broadcast; the training side streams
    * through one explode + broadcast-semi-probe + per-doc count — no
    * all-pairs comparison at any corpus size.
    */
  private val textDecontaminate: Q = (s, dir) => {
    def shingles4 = {
      val w = split(col("text"), " ")
      val n = size(w)
      when(n >= 4,
        array_distinct(transform(sequence(lit(1), n - 3),
          i => array_join(slice(w, i, lit(4)), " "))))
        .otherwise(array().cast("array<string>"))
    }
    val docs = load(s, dir, "documents")
    val bench = docs.filter(col("doc_id") < 20)
      .select(explode(shingles4).as("sh")).distinct()
    docs.filter(col("doc_id") >= 20)
      .select(col("doc_id"), explode(shingles4).as("sh"))
      .join(broadcast(bench), Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_shingles"))
      .orderBy(col("doc_id"))
  }

  private val textDecontaminateSql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(generate_series(1, len(ws) - 3),
      |      i -> array_to_string(ws[i:i+3], ' ')))) AS sh
      |  FROM w WHERE len(ws) >= 4),
      |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 20)
      |SELECT s.doc_id, COUNT(*) AS n_shared_shingles
      |FROM sh s JOIN bench b ON s.sh = b.sh
      |WHERE s.doc_id >= 20
      |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin

  /** End-to-end curation decision: quality gate + canonical-copy-only
    * (fingerprint dedup keep-first) + token budget, with machine-readable
    * drop reasons — the shape of a production training-data filter pass.
    * Single scan + one window over the fingerprint; every signal is a
    * codegen'd expression.
    */
  private val docsCuration: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = split(col("text"), " ")
    val nWords = size(w)
    val stopRatio = size(filter(w, x => x.isin(stopwords: _*))).cast("double") / nWords
    val win = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    load(s, dir, "documents")
      .withColumn("fp", md5(lower(regexp_replace(col("text"), "\\s+", " "))))
      .withColumn("n_words", nWords)
      .withColumn("is_quality", nWords >= 20 && stopRatio > 0.02)
      .withColumn("is_canonical", row_number().over(win) === 1)
      .withColumn("in_budget", nWords <= 400)
      .withColumn("keep", col("is_quality") && col("is_canonical") && col("in_budget"))
      .withColumn("drop_reasons", array_join(filter(array(
          when(not(col("is_quality")), lit("low_quality")),
          when(not(col("is_canonical")), lit("duplicate")),
          when(not(col("in_budget")), lit("too_long"))), x => x.isNotNull), ","))
      .select(col("doc_id"), col("n_words"), col("is_quality"), col("is_canonical"),
        col("in_budget"), col("keep"), col("drop_reasons"))
      .orderBy(col("doc_id"))
  }

  private val docsCurationSql =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws,
      |    md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
      |  FROM documents),
      |e AS (
      |  SELECT doc_id, CAST(len(ws) AS INTEGER) AS n_words,
      |    (len(ws) >= 20 AND
      |     CAST(len(list_filter(ws, w -> w IN ('the','a','and','of','to','is','in'))) AS DOUBLE)
      |       / len(ws) > 0.02) AS is_quality,
      |    (ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1) AS is_canonical,
      |    len(ws) <= 400 AS in_budget
      |  FROM d)
      |SELECT doc_id, n_words, is_quality, is_canonical, in_budget,
      |  (is_quality AND is_canonical AND in_budget) AS keep,
      |  COALESCE(array_to_string(list_filter([
      |    CASE WHEN NOT is_quality THEN 'low_quality' END,
      |    CASE WHEN NOT is_canonical THEN 'duplicate' END,
      |    CASE WHEN NOT in_budget THEN 'too_long' END], x -> x IS NOT NULL), ','), '') AS drop_reasons
      |FROM e ORDER BY doc_id""".stripMargin

  /** Token-budget batch packing: assign docs to training batches so each
    * batch holds ~8192 whitespace tokens, greedily in doc_id order
    * within a language shard. Scale shape: one window per shard
    * (partitionBy lang) — no global single-partition ordering; shards
    * pack independently exactly as a distributed pipeline would.
    */
  private val docsPackBatches: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), size(split(col("text"), " ")).as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      // batch = budget bucket of the tokens BEFORE this doc, so a doc
      // never splits and batches fill to the first overflow
      .withColumn("batch_id", ((col("cum") - col("n_tok")) / 8192).cast("int"))
      .select(col("lang"), col("doc_id"), col("n_tok"), col("batch_id"))
      .orderBy(col("lang"), col("doc_id"))
  }

  private val docsPackBatchesSql =
    """SELECT lang, doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok,
      |  CAST(floor((SUM(len(string_split(text, ' ')))
      |      OVER (PARTITION BY lang ORDER BY doc_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    - len(string_split(text, ' '))) / 8192) AS INTEGER) AS batch_id
      |FROM documents ORDER BY lang, doc_id""".stripMargin

  /** PII-style redaction pass: emails, long digit runs and URLs are
    * replaced with typed placeholders (regex chains — each rule is one
    * codegen'd regexp_replace; the synthetic corpus is clean text, so
    * rules are exercised on constructed columns too). */
  private val textRedact: Q = (s, dir) => {
    val synthetic = concat(col("text"), lit(" contact bob@mail.example or +1 555 0100 123"),
      lit(" see https://ex.example/p?id="), col("doc_id"))
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(synthetic, "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+", "<EMAIL>"),
        "https?://[^ ]+", "<URL>"),
      "[0-9]{3,}", "<NUM>")
    load(s, dir, "documents").filter(col("doc_id") < 200)
      .select(col("doc_id"), redacted.as("redacted"))
      .orderBy(col("doc_id"))
  }

  private val textRedactSql =
    """SELECT doc_id,
      |  regexp_replace(
      |    regexp_replace(
      |      regexp_replace(
      |        text || ' contact bob@mail.example or +1 555 0100 123'
      |             || ' see https://ex.example/p?id=' || doc_id,
      |        '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+', '<EMAIL>', 'g'),
      |      'https?://[^ ]+', '<URL>', 'g'),
      |    '[0-9]{3,}', '<NUM>', 'g') AS redacted
      |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin

  /** corpus composition report: per language — doc share, token mass,
    * quality rate (the summary a curation run reports before/after) */
  private val docsCorpusStats: Q = (s, dir) => {
    val words = split(col("text"), " ")
    val nWords = size(words)
    val stopCount = size(filter(words, w => w.isin(stopwords: _*)))
    val isQ = nWords >= 20 && (stopCount.cast("double") / nWords) > 0.02
    val perLang = load(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(nWords.cast("bigint")).as("total_tokens"),
        round(avg(isQ.cast("double")), 6).as("quality_rate"))
    val total = perLang.agg(sum(col("n_docs")).as("corpus_docs"))
    perLang.join(broadcast(total))
      .withColumn("doc_share", round(col("n_docs").cast("double") / col("corpus_docs"), 6))
      .select(col("lang"), col("n_docs"), col("total_tokens"), col("quality_rate"), col("doc_share"))
      .orderBy(col("lang"))
  }

  private val docsCorpusStatsSql =
    """WITH per AS (
      |  SELECT lang, COUNT(*) AS n_docs,
      |    CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS total_tokens,
      |    round(avg(CAST(len(string_split(text, ' ')) >= 20 AND
      |      CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','a','and','of','to','is','in'))) AS DOUBLE)
      |        / len(string_split(text, ' ')) > 0.02 AS DOUBLE)), 6) AS quality_rate
      |  FROM documents GROUP BY lang)
      |SELECT lang, n_docs, total_tokens, quality_rate,
      |  round(CAST(n_docs AS DOUBLE) / (SELECT SUM(n_docs) FROM per), 6) AS doc_share
      |FROM per ORDER BY lang""".stripMargin

  // ---- sampling / mixing operators (epoch pipelines) -------------------

  // Deterministic epoch shuffle: a seeded hash order assigns every doc a
  // shard and an in-shard position. Shard-partitioned windows keep the
  // sort distributed (never a global single-partition ordering); a new
  // seed string re-deals the whole corpus — exactly how epoch N vs N+1
  // re-shuffles training data reproducibly.
  private val docsEpochShuffle: Q = (s, dir) => {
    val hashed = load(s, dir, "documents")
      .select(col("doc_id"), md5(concat(lit("epoch1:"), col("doc_id"))).as("hp"))
      .withColumn("shard", (ascii(substring(col("hp"), 1, 1)) % 8).cast("int"))
    val w = Window.partitionBy(col("shard")).orderBy(col("hp"), col("doc_id"))
    hashed.select(col("doc_id"), col("shard"),
        row_number().over(w).as("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  private val docsEpochShuffleSql =
    """SELECT doc_id, shard, CAST(ROW_NUMBER() OVER (
      |    PARTITION BY shard ORDER BY hp, doc_id) AS INTEGER) AS pos
      |FROM (
      |  SELECT doc_id, md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS hp,
      |    CAST(ascii(substring(md5('epoch1:' || CAST(doc_id AS VARCHAR)), 1, 1)) % 8 AS INTEGER) AS shard
      |  FROM documents)
      |ORDER BY shard, pos""".stripMargin

  // TF-IDF keyword extraction per source: tf over (source, term) and
  // df over sources come out of the same tokenize pass; idf = ln(S/df)
  // with S = #sources as a broadcast scalar; top-5 terms per source by
  // rounded tf-idf (per-group rank — WindowGroupLimit prunes before the
  // final sort). The per-corpus-slice signature a mixture builder uses
  // to label sources.
  private val textTfidfKeywords: Q = (s, dir) => {
    val toks = load(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "" && !col("term").isin(stopwords: _*))
    val tf = toks.groupBy(col("source"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nSrc = tf.select(col("source")).distinct()
      .agg(count(lit(1)).cast("double").as("n_src"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(nSrc))
      .withColumn("tfidf", round(col("tf") * log(col("n_src") / col("df")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("source"), col("rk"), col("term"), col("tfidf"))
      .orderBy(col("source"), col("rk"))
  }

  private val textTfidfKeywordsSql =
    """WITH toks AS (
      |  SELECT source, t.term
      |  FROM documents, unnest(string_split(text, ' ')) AS t(term)
      |  WHERE t.term <> '' AND t.term NOT IN ('the','a','and','of','to','is','in')),
      |tf AS (SELECT source, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |ns AS (SELECT CAST(COUNT(DISTINCT source) AS DOUBLE) AS n_src FROM tf)
      |SELECT source, rk, term, tfidf FROM (
      |  SELECT tf.source, tf.term,
      |    round(tf.tf * ln(ns.n_src / df.df), 6) AS tfidf,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY tf.source
      |      ORDER BY round(tf.tf * ln(ns.n_src / df.df), 6) DESC, tf.term) AS INTEGER) AS rk
      |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN ns)
      |WHERE rk <= 5 ORDER BY source, rk""".stripMargin

  // Bigram language-model statistics: corpus-wide bigram counts with
  // add-one-smoothed conditional probability P(w2|w1) — the classic
  // MapReduce n-gram-stats workload. One shingle explode → one (w1,w2)
  // count shuffle; unigram counts and |V| join back broadcast. Top-20
  // bigrams with deterministic tie-breaks.
  private val textBigramLm: Q = (s, dir) => {
    val words = split(col("text"), " ")
    val bigrams = load(s, dir, "documents")
      .filter(size(words) >= 2) // ANSI: element_at never out of bounds
      .select(explode(transform(
        sequence(lit(1), size(words) - 1),
        i => struct(element_at(words, i).as("w1"), element_at(words, i + 1).as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
    val bc = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val uc = bc.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val vocab = bc.select(col("w2")).distinct().agg(count(lit(1)).as("v"))
    bc.join(uc, "w1").crossJoin(broadcast(vocab))
      .withColumn("p_smooth", round((col("c2") + 1.0) / (col("c1") + col("v")), 6))
      .orderBy(col("c2").desc, col("w1"), col("w2"))
      .limit(20)
      .select(col("w1"), col("w2"), col("c2"), col("p_smooth"))
  }

  private val textBigramLmSql =
    """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents WHERE len(string_split(text, ' ')) >= 2),
      |bg AS (
      |  SELECT ws[i] AS w1, ws[i+1] AS w2
      |  FROM w, unnest(generate_series(1, len(ws) - 1)) AS t(i)
      |  WHERE ws[i] <> '' AND ws[i+1] <> ''),
      |bc AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
      |uc AS (SELECT w1, SUM(c2) AS c1 FROM bc GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT w2) AS v FROM bc)
      |SELECT bc.w1, bc.w2, bc.c2,
      |  round((bc.c2 + 1.0e0) / (uc.c1 + v.v), 6) AS p_smooth
      |FROM bc JOIN uc ON bc.w1 = uc.w1 CROSS JOIN v
      |ORDER BY bc.c2 DESC, bc.w1, bc.w2 LIMIT 20""".stripMargin

  // RAG-style overlapping token chunking: fixed 64-token windows with
  // stride 48 (16-token overlap), chunk boundaries derived purely from
  // per-row token positions — embarrassingly parallel explode, no
  // shuffle, and chunk_id is deterministic so downstream joins/upserts
  // are stable across refreshes. The text-side counterpart of the
  // binary mm_chunk_payload tiling.
  private val docsChunkOverlap: Q = (s, dir) => {
    val win = 64
    val stride = 48
    val words = split(col("text"), " ")
    load(s, dir, "documents")
      .select(col("doc_id"), words.as("w"))
      .withColumn("n", size(col("w")))
      // start positions 1, 1+stride, 1+2*stride, … while start ≤ n
      .withColumn("start", explode(sequence(lit(1), greatest(col("n") - 1, lit(1)), lit(stride))))
      .withColumn("chunk_id", ((col("start") - 1) / stride).cast("int"))
      .withColumn("chunk_tokens", least(lit(win), col("n") - col("start") + 1))
      .select(col("doc_id"), col("chunk_id"),
        col("start"), col("chunk_tokens"),
        concat_ws(" ", slice(col("w"), col("start"), least(lit(win), col("n") - col("start") + 1))).as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  private val docsChunkOverlapSql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |s AS (
      |  SELECT doc_id, w, len(w) AS n, t.st AS start
      |  FROM d, unnest(generate_series(1, greatest(len(w) - 1, 1), 48)) AS t(st))
      |SELECT doc_id, CAST((start - 1) / 48 AS INTEGER) AS chunk_id,
      |  CAST(start AS INTEGER) AS start,
      |  CAST(least(64, n - start + 1) AS INTEGER) AS chunk_tokens,
      |  array_to_string(list_slice(w, start, start + least(64, n - start + 1) - 1), ' ') AS chunk_text
      |FROM s ORDER BY doc_id, chunk_id""".stripMargin

  // CCNet-style LM-quality bucketing: score each doc by its average
  // bigram negative log-likelihood under the CORPUS bigram model
  // (add-one smoothing — the same statistics as text_bigram_lm), then
  // quintile docs per language by the ROUNDED score (low perplexity =
  // head bucket, the split CCNet keeps/filters on). Plan shape: the
  // doc-bigram explode joins the corpus model on the (w1,w2) key — both
  // sides hash-partition, no broadcast of the (large at 100 TB) model;
  // unigram totals and |V| ride along; ntile windows are per-language.
  private val docsLmQualityBuckets: Q = (s, dir) => {
    val words = split(col("text"), " ")
    // ONE explode, aggregated straight to per-doc bigram counts: the
    // first cut re-exploded the corpus for the scoring join and joined
    // the model at bigram-INSTANCE grain; this (doc, w1, w2, n) table is
    // both the model input (bc = one more groupBy over it) and the
    // scoring join input, so the model join moves |distinct doc-bigrams|
    // rows instead of |bigram instances| — the grain that matters when
    // the corpus is 100 TB. avg_nll becomes the n-weighted mean (same
    // value; the oracle mirrors the weighted formulation).
    // NOTE (r8): an explode-indices-then-element_at rewrite (the shape
    // that won for dedup_substring_windows) was measured and REVERTED
    // here — 26 s → 31 s at 100×: the per-bigram lambda is two cheap
    // element_at calls, and carrying the full words array across the
    // Generate boundary (it is part of Generate's output row until the
    // downstream project prunes it) cost more than the interpreted
    // lambda saved. The transform-struct form emits compact (w1, w2)
    // pairs from the Generate itself.
    val docBg = load(s, dir, "documents")
      .filter(size(words) >= 2)
      .select(col("doc_id"), col("lang"), explode(transform(
        sequence(lit(1), size(words) - 1),
        i => struct(element_at(words, i).as("w1"), element_at(words, i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("lang"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
      .groupBy(col("doc_id"), col("lang"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))
      .cache()
    val bc = docBg.groupBy(col("w1"), col("w2")).agg(sum(col("n")).as("c2"))
    val uc = bc.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val vocab = bc.select(col("w2")).distinct().agg(count(lit(1)).as("v"))
    val scored = docBg
      .join(bc, Seq("w1", "w2")).join(uc, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("nll", -log((col("c2") + 1.0) / (col("c1") + col("v"))))
      .groupBy(col("doc_id"), col("lang"))
      .agg(round(sum(col("n") * col("nll")) / sum(col("n")), 6).as("avg_nll"))
    val w = Window.partitionBy(col("lang")).orderBy(col("avg_nll"), col("doc_id"))
    scored.withColumn("bucket", ntile(5).over(w))
      .select(col("doc_id"), col("lang"), col("avg_nll"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  private val docsLmQualityBucketsSql =
    """WITH w AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |bg AS (
      |  SELECT doc_id, lang, ws[i] AS w1, ws[i+1] AS w2
      |  FROM w, unnest(generate_series(1, len(ws) - 1)) AS t(i)
      |  WHERE ws[i] <> '' AND ws[i+1] <> ''),
      |bgc AS (SELECT doc_id, lang, w1, w2, COUNT(*) AS n FROM bg GROUP BY 1, 2, 3, 4),
      |bc AS (SELECT w1, w2, CAST(SUM(n) AS BIGINT) AS c2 FROM bgc GROUP BY 1, 2),
      |uc AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM bc GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT w2) AS v FROM bc),
      |scored AS (
      |  SELECT bgc.doc_id, bgc.lang,
      |    round(SUM(bgc.n * -ln((bc.c2 + 1.0e0) / (uc.c1 + v.v))) / SUM(bgc.n), 6) AS avg_nll
      |  FROM bgc JOIN bc ON bgc.w1 = bc.w1 AND bgc.w2 = bc.w2
      |  JOIN uc ON bgc.w1 = uc.w1 CROSS JOIN v
      |  GROUP BY bgc.doc_id, bgc.lang)
      |SELECT doc_id, lang, avg_nll,
      |  CAST(ntile(5) OVER (PARTITION BY lang ORDER BY avg_nll, doc_id) AS INTEGER) AS bucket
      |FROM scored ORDER BY doc_id""".stripMargin

  // Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES):
  // each doc draws u ∈ (0,1) from a seeded md5 (the same portable-hash
  // trick as docs_epoch_shuffle) and competes on key = ln(u)/weight —
  // the top-k by key IS an exact weighted sample without replacement,
  // computed as one scan + a distributed top-k (TakeOrderedAndProject),
  // no per-row RNG state and no global sort. Weight here = n_chars
  // (longer docs proportionally likelier — the token-mass-weighted
  // sampling a mixture builder uses). Keys are ROUNDED before ordering
  // so the cross-engine cutoff never rests on a last-ulp ln() bit.
  private val docsWeightedSample: Q = (s, dir) => {
    val h = md5(concat(lit("wsamp1:"), col("doc_id")))
    val u = (conv(substring(h, 1, 6), 16, 10).cast("double") + 0.5) / lit(16777216.0)
    load(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        round(log(u) / col("n_chars"), 9).as("es_key"))
      .orderBy(col("es_key").desc, col("doc_id"))
      .limit(60)
  }

  private val docsWeightedSampleSql =
    """SELECT doc_id, n_chars,
      |  round(ln((CAST('0x' || substr(md5('wsamp1:' || CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)
      |    + 0.5e0) / 16777216.0e0) / n_chars, 9) AS es_key
      |FROM documents
      |ORDER BY es_key DESC, doc_id LIMIT 60""".stripMargin

  // Mixture quota: cap each source's contribution at K docs chosen by a
  // deterministic hash priority — the data-mixing step that rebalances
  // over-represented sources. Per-source windows; no global sort.
  private val docsMixtureQuota: Q = (s, dir) => {
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(concat(lit("mix:"), col("doc_id"))), col("doc_id"))
    load(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"),
        row_number().over(w).as("rk"))
      .filter(col("rk") <= 15)
      .orderBy(col("source"), col("rk"))
  }

  private val docsMixtureQuotaSql =
    """SELECT doc_id, source, lang, CAST(rk AS INTEGER) AS rk
      |FROM (
      |  SELECT doc_id, source, lang, ROW_NUMBER() OVER (
      |    PARTITION BY source
      |    ORDER BY md5('mix:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |WHERE rk <= 15
      |ORDER BY source, rk""".stripMargin

  // Temperature mixture: per-source targets ∝ n^α (α = 0.5), the
  // T5/mT5-style temperature re-weighting that up-samples tail sources
  // relative to head sources, with deterministic per-source head
  // selection. One count agg + one broadcast of the tiny target table +
  // per-source windows — no global sort at any corpus size.
  private val docsTemperatureMix: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    val weights = docs.groupBy(col("source").as("tsrc"))
      .agg(count(lit(1)).as("n"))
      .withColumn("w", pow(col("n").cast("double"), 0.5))
    val targets = weights
      .crossJoin(broadcast(weights.agg(sum(col("w")).as("tw"))))
      .select(col("tsrc"),
        floor(lit(300.0) * col("w") / col("tw")).cast("long").as("target"))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    docs.join(broadcast(targets), col("source") === col("tsrc"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("target"))
      .select(col("doc_id"), col("source"), col("rn").as("pick"))
      .orderBy(col("source"), col("pick"))
  }

  private val docsTemperatureMixSql =
    """WITH counts AS (
      |  SELECT source AS tsrc, COUNT(*) AS n, POWER(CAST(COUNT(*) AS DOUBLE), 0.5) AS w
      |  FROM documents GROUP BY 1),
      |targets AS (
      |  SELECT tsrc, CAST(FLOOR(300.0 * w / (SELECT SUM(w) FROM counts)) AS BIGINT) AS target
      |  FROM counts)
      |SELECT doc_id, source, CAST(rn AS INTEGER) AS pick
      |FROM (
      |  SELECT doc_id, source, target,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      |  FROM documents JOIN targets ON source = tsrc)
      |WHERE rn <= target
      |ORDER BY source, pick""".stripMargin

  // Stratified head: per-language quotas (majority language capped
  // harder than the tail) by a quality-proxy order — proportional
  // stratified sampling with deterministic tie-breaks.
  private val docsStratifiedHead: Q = (s, dir) => {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        row_number().over(w).as("rk"))
      .filter(col("rk") <= when(col("lang") === "en", 10).otherwise(25))
      .orderBy(col("lang"), col("rk"))
  }

  private val docsStratifiedHeadSql =
    """SELECT doc_id, lang, n_chars, CAST(rk AS INTEGER) AS rk
      |FROM (
      |  SELECT doc_id, lang, n_chars, ROW_NUMBER() OVER (
      |    PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rk
      |  FROM documents)
      |WHERE rk <= CASE WHEN lang = 'en' THEN 10 ELSE 25 END
      |ORDER BY lang, rk""".stripMargin

  /** per-(doc, word-n-gram) occurrence counts — the shared first stage
    * of the repetition/scrub operators. The gram array is built with
    * codegen'd higher-order functions (no UDF), then exploded once;
    * the count is a single hash shuffle keyed (doc_id, gram), which
    * scales: keys are per-document so no global hot key exists. */
  private def gramCounts(s: SparkSession, dir: String, n: Int): DataFrame = {
    val mk = (0 until n).map(k => s"element_at(w, i + $k)").mkString(", ")
    load(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        explode(expr(s"transform(sequence(1, size(w) - ${n - 1}), i -> concat_ws(' ', $mk))")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
  }

  // Gopher-style intra-document repetition gates: the fraction of
  // bigram mass taken by the single most frequent bigram, and the
  // fraction of bigram occurrences that are repeats. High values mark
  // boilerplate/looping text. Per-doc aggregation over the gram counts
  // — two shuffles total, both keyed by doc_id (never global).
  private val textRepetition: Q = (s, dir) =>
    gramCounts(s, dir, 2)
      .groupBy(col("doc_id"))
      .agg(
        round(dbl(max(col("c"))) / sum(col("c")), 6).as("top_bigram_frac"),
        round(lit(1.0) - dbl(count(lit(1))) / sum(col("c")), 6).as("dup_bigram_frac"),
        sum(col("c")).as("n_bigrams"))
      .withColumn("flagged",
        col("top_bigram_frac") > 0.05 || col("dup_bigram_frac") > 0.1)
      .orderBy(col("doc_id"))

  private val textRepetitionSql =
    """WITH words AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS g
      |  FROM words),
      |cnt AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g)
      |SELECT doc_id,
      |  round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_bigram_frac,
      |  round(1.0 - CAST(count(*) AS DOUBLE) / sum(c), 6) AS dup_bigram_frac,
      |  CAST(sum(c) AS BIGINT) AS n_bigrams,
      |  (round(CAST(max(c) AS DOUBLE) / sum(c), 6) > 0.05 OR
      |   round(1.0 - CAST(count(*) AS DOUBLE) / sum(c), 6) > 0.1) AS flagged
      |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // C4-style corpus-frequent n-gram scrub: trigrams appearing in >= 3
  // distinct documents are "boilerplate"; each document reports how
  // much of its trigram mass is boilerplate and is flagged above 20%.
  // The frequent-gram set is unbounded at corpus scale, so it is
  // joined back by a SHUFFLE join on the gram key (never broadcast by
  // construction; AQE may still downgrade when the set is provably
  // small — the safe direction).
  private val docsNgramScrub: Q = (s, dir) => {
    val cnt = gramCounts(s, dir, 3)
    val freq = cnt.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 3).select(col("g"))
    val tot = cnt.groupBy(col("doc_id")).agg(sum(col("c")).as("n_grams"))
    val hit = cnt.join(freq, "g")
      .groupBy(col("doc_id")).agg(sum(col("c")).as("n_freq"))
    val nFreq = coalesce(col("n_freq"), lit(0L))
    tot.join(hit, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"), nFreq.as("n_freq"),
        round(dbl(nFreq) / col("n_grams"), 6).as("freq_frac"),
        (dbl(nFreq) / col("n_grams") > 0.2).as("flagged"))
      .orderBy(col("doc_id"))
  }

  private val docsNgramScrubSql =
    """WITH words AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(w) - 1),
      |      i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS g
      |  FROM words),
      |cnt AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g),
      |freq AS (
      |  SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS df FROM cnt GROUP BY g)
      |  WHERE df >= 3),
      |tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams FROM cnt GROUP BY doc_id),
      |hit AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_freq
      |  FROM cnt JOIN freq USING (g) GROUP BY doc_id)
      |SELECT t.doc_id AS doc_id, t.n_grams AS n_grams,
      |  COALESCE(h.n_freq, 0) AS n_freq,
      |  round(CAST(COALESCE(h.n_freq, 0) AS DOUBLE) / t.n_grams, 6) AS freq_frac,
      |  CAST(COALESCE(h.n_freq, 0) AS DOUBLE) / t.n_grams > 0.2 AS flagged
      |FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
      |ORDER BY 1""".stripMargin

  // BM25 ranked retrieval (Robertson/Sparck-Jones; Lucene's idf variant
  // ln(1 + (N-df+0.5)/(df+0.5)), k1=1.2, b=0.75): tokenize → per-doc term
  // frequencies (ONE shuffle on doc_id — tf and dl come out of the same
  // grouping), then score only the query terms. df/avgdl/N are tiny
  // aggregates joined by broadcast, so at 100 TB the plan is one
  // tokenize+group pass over the corpus plus constant-size side inputs.
  // Rank by the ROUNDED score so the cross-engine top-k cutoff never
  // depends on last-ulp double differences.
  private val queryTerms = Seq("spark", "join", "window", "stream")

  private val textBm25: Q = (s, dir) => {
    val k1 = 1.2
    val b = 0.75
    val toks = load(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val corpus = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val df = tf.filter(col("term").isin(queryTerms: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.filter(col("term").isin(queryTerms: _*))
      .join(broadcast(df), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(corpus))
      .withColumn("idf", log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("w", col("idf") * col("tf") * (k1 + 1.0) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id")).agg(round(sum(col("w")), 4).as("score"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rk") <= 15)
      .select(col("doc_id"), col("score"), col("rk"))
      .orderBy(col("rk"))
  }

  private val textBm25Sql =
    """WITH toks AS (
      |  SELECT doc_id, t.term FROM documents, unnest(string_split(text, ' ')) AS t(term)
      |  WHERE t.term <> ''),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
      |corpus AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
      |df AS (SELECT term, COUNT(*) AS df FROM tf
      |       WHERE term IN ('spark', 'join', 'window', 'stream') GROUP BY 1),
      |scored AS (
      |  SELECT tf.doc_id,
      |    ROUND(SUM(ln(1.0e0 + (corpus.n_docs - df.df + 0.5e0) / (df.df + 0.5e0))
      |      * tf.tf * 2.2e0
      |      / (tf.tf + 1.2e0 * (0.25e0 + 0.75e0 * dl.dl / corpus.avgdl))), 4) AS score
      |  FROM tf JOIN df ON tf.term = df.term
      |  JOIN dl ON tf.doc_id = dl.doc_id
      |  CROSS JOIN corpus
      |  GROUP BY tf.doc_id)
      |SELECT doc_id, score, rk FROM (
      |  SELECT doc_id, score,
      |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rk
      |  FROM scored)
      |WHERE rk <= 15 ORDER BY rk""".stripMargin

  /** End-to-end curation pipeline COMPOSED as one declarative plan —
    * the flagship "a training-data run is these stages chained" query:
    * quality gate → exact-dedup canonical pick → per-source quota →
    * token-budget batch packing. Each stage is individually oracled
    * elsewhere (docs_curation / dedup_exact / docs_mixture_quota /
    * docs_pack_batches); this one proves the COMPOSITION stays correct
    * and plannable. Three shuffles total (fp, source, lang windows) —
    * each inherent to its stage's grouping key, nothing global; filters
    * run before the md5 so dropped docs are never hashed. */
  private val docsPipelineE2e: Q = (s, dir) => {
    val w = split(col("text"), " ")
    val nWords = size(w)
    val stopRatio = size(filter(w, x => x.isin(stopwords: _*))).cast("double") / nWords
    val dedupW = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    val quotaW = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val packW = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    load(s, dir, "documents")
      .withColumn("n_tok", nWords)
      .filter(col("n_tok") >= 20 && col("n_tok") <= 400 && stopRatio > 0.02)
      .withColumn("fp", md5(lower(regexp_replace(col("text"), "\\s+", " "))))
      .withColumn("rn", row_number().over(dedupW)).filter(col("rn") === 1)
      .withColumn("qn", row_number().over(quotaW)).filter(col("qn") <= 100)
      .withColumn("cum", sum(col("n_tok")).over(packW))
      .withColumn("batch_id", ((col("cum") - col("n_tok")) / 8192).cast("int"))
      .select(col("source"), col("lang"), col("batch_id"), col("doc_id"), col("n_tok"))
      .orderBy(col("source"), col("lang"), col("batch_id"), col("doc_id"))
  }

  private val docsPipelineE2eSql =
    """WITH q AS (
      |  SELECT doc_id, source, lang,
      |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok,
      |    md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) BETWEEN 20 AND 400
      |    AND CAST(len(list_filter(string_split(text, ' '),
      |          w -> w IN ('the','a','and','of','to','is','in'))) AS DOUBLE)
      |        / len(string_split(text, ' ')) > 0.02),
      |d AS (SELECT * FROM (
      |        SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM q)
      |      WHERE rn = 1),
      |qt AS (SELECT * FROM (
      |         SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS qn FROM d)
      |       WHERE qn <= 100),
      |p AS (SELECT source, lang, doc_id, n_tok,
      |        SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
      |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |      FROM qt)
      |SELECT source, lang, CAST(floor((cum - n_tok) / 8192) AS INTEGER) AS batch_id,
      |  doc_id, n_tok
      |FROM p ORDER BY source, lang, batch_id, doc_id""".stripMargin

  /** Model-based quality filtering with the HASHING TRICK (fastText /
    * Weinberger et al. feature hashing; the GPT-3/CCNet-style learned
    * quality classifier stage): score = mean over tokens of
    * weight(hash(token)), prob = sigmoid(8·score). Weights live in NO
    * table at all — each token's weight is derived from its portable
    * md5 hash (a stand-in for a trained weight vector, which at scale
    * would be a broadcast array indexed by `hash % D`). The whole
    * classifier is therefore one codegen row pipeline: zero shuffle,
    * zero join, constant memory — the shape a 100 TB quality-filter
    * pass needs. Token weights are INTEGERS (hash − 2²³) so the
    * per-doc sum is order-independent and bit-identical cross-engine;
    * only the final division/sigmoid touches floating point. */
  private val textQualityClassifier: Q = (s, dir) => {
    val ws = filter(split(col("text"), " "), w => w =!= "")
    val tokW = transform(ws, w =>
      conv(substring(md5(concat(lit("qw1:"), w)), 1, 6), 16, 10).cast("long") -
        8388608L)
    val sw = aggregate(tokW, lit(0L), (acc, x) => acc + x)
    val n = size(ws)
    val raw = sw.cast("double") / (n.cast("double") * lit(16777216.0))
    load(s, dir, "documents")
      .select(col("doc_id"), n.as("n_tokens"),
        round(raw, 6).as("score"),
        round(lit(1.0) / (lit(1.0) + exp(-lit(8.0) * raw)), 6).as("prob"),
        (sw > 0).as("keep"))
      .orderBy(col("doc_id"))
  }

  private val textQualityClassifierSql =
    """WITH t AS (SELECT doc_id,
      |    list_filter(string_split(text, ' '), w -> w <> '') AS ws
      |  FROM documents),
      |s AS (SELECT doc_id, len(ws) AS n,
      |    list_sum(list_transform(ws,
      |      w -> CAST('0x' || substr(md5('qw1:' || w), 1, 6) AS BIGINT) - 8388608)) AS sw
      |  FROM t)
      |SELECT doc_id, CAST(n AS INTEGER) AS n_tokens,
      |  round(sw / (n * 16777216.0e0), 6) AS score,
      |  round(1.0e0 / (1.0e0 + exp(-8.0e0 * (sw / (n * 16777216.0e0)))), 6) AS prob,
      |  (sw > 0) AS keep
      |FROM s ORDER BY doc_id""".stripMargin

  /** Vocabulary build + id encoding — the last step of a text pipeline
    * before tensors: rank tokens by corpus frequency (ties by token,
    * so the id assignment is total and engine-independent), keep the
    * top-512 as the vocab, re-encode every document as a space-joined
    * id sequence with OOV → 0. Two inherent shuffles (token-keyed
    * count, doc-keyed reassembly) + one vocab join that Spark
    * broadcasts from stats (a real vocab is ≤ a few hundred thousand
    * rows — always the broadcast side). In-doc order is restored by
    * sorting on the exploded position, never on collect order. */
  private val textVocabIds: Q = (s, dir) => {
    val toks = load(s, dir, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    val wRank = Window.orderBy(col("cnt").desc, col("w"))
    val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .withColumn("tok_id", row_number().over(wRank))
      .filter(col("tok_id") <= 512)
    toks.join(vocab.select(col("w"), col("tok_id")), Seq("w"), "left")
      .withColumn("tid", coalesce(col("tok_id"), lit(0)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tid")))),
          x => x.getField("tid").cast("string"))).as("token_ids"),
        sum(when(col("tok_id").isNull, 1).otherwise(0)).as("n_oov"))
      .orderBy(col("doc_id"))
  }

  private val textVocabIdsSql =
    """WITH toks AS (
      |  SELECT doc_id, i AS pos, ws[i] AS w
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |    unnest(generate_series(1, len(ws))) AS t(i)
      |  WHERE ws[i] <> ''),
      |vocab AS (
      |  SELECT w, CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w) AS INTEGER) AS tok_id
      |  FROM toks GROUP BY w
      |  QUALIFY tok_id <= 512),
      |enc AS (
      |  SELECT t.doc_id, t.pos, COALESCE(v.tok_id, 0) AS tid,
      |    CASE WHEN v.tok_id IS NULL THEN 1 ELSE 0 END AS oov
      |  FROM toks t LEFT JOIN vocab v ON t.w = v.w)
      |SELECT doc_id, COUNT(*) AS n_tokens,
      |  string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY pos) AS token_ids,
      |  CAST(SUM(oov) AS BIGINT) AS n_oov
      |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** DP-style noised aggregate release: per-source doc counts with
    * Laplace(1/ε) noise (ε = 1) — the private-statistics-release step
    * of a corpus pipeline. Noise is drawn from the SEEDED portable-md5
    * uniform (inverse-CDF transform), like `docs_epoch_shuffle`'s
    * determinism contract: a production release would use true
    * randomness; the seeded variant makes the release reproducible and
    * therefore oracle-checkable, while exercising the exact plan (one
    * group-by shuffle, noise applied post-aggregate so each group is
    * touched once). */
  private val docsDpRelease: Q = (s, dir) => {
    val h = md5(concat(lit("dp1:"), col("source")))
    val u = (conv(substring(h, 1, 6), 16, 10).cast("double") + 0.5) /
      lit(16777216.0)
    val noise = -signum(u - 0.5) * log(lit(1.0) - lit(2.0) * abs(u - 0.5))
    load(s, dir, "documents")
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("noisy_count", round(col("n_docs") + noise, 4))
      .withColumn("epsilon", lit(1.0))
      .orderBy(col("source"))
  }

  private val docsDpReleaseSql =
    """WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
      |u AS (SELECT source, n_docs,
      |  (CAST('0x' || substr(md5('dp1:' || source), 1, 6) AS BIGINT) + 0.5e0)
      |    / 16777216.0e0 AS u
      |  FROM c)
      |SELECT source, n_docs,
      |  round(n_docs + (-sign(u - 0.5e0)) * ln(1.0e0 - 2.0e0 * abs(u - 0.5e0)), 4)
      |    AS noisy_count,
      |  1.0e0 AS epsilon
      |FROM u ORDER BY source""".stripMargin

  /** BPE tokenizer training, first 3 merges — the distributed half of
    * training a tokenizer on a 100 TB corpus: pair statistics are
    * computed over the DISTINCT word vocabulary weighted by corpus
    * frequency (the classic trick — the corpus is touched once to build
    * the word-count table; every merge round then runs on vocab-sized
    * data). Each round is ONE pair-count shuffle + a 1-row collect of
    * the argmax pair (bounded driver state, same contract as the
    * k-means centroids), and the merge is applied with a plain string
    * `replace` over a separator-wrapped symbol encoding:
    * sym = '·' + symbols.mkString("··") + '·', merge (l,r) = replace of
    * '·l··r·' with '·lr·'. The double separator makes leftmost
    * non-overlapping `replace` EXACTLY the greedy left-to-right BPE
    * merge pass ("a a a a" merges to "aa aa", not "aa a a" — adjacent
    * occurrences share no separator) and the wrapping prevents
    * false matches inside multi-char symbols ('·b··c·' cannot match
    * inside '·ab··c·'). Both engines' replace scans leftmost
    * non-overlapping ⇒ exact oracle, ties broken (count desc, l, r). */
  private val textBpeMerges: Q = (s, dir) => {
    val words = load(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    var syms = words.withColumn("sym",
      concat(lit("·"), concat_ws("··", split(col("word"), "")), lit("·")))
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (rnk <- 1 to 3) {
      val top = syms
        .withColumn("lst", split(expr("trim(BOTH '·' FROM sym)"), "··"))
        .filter(size(col("lst")) >= 2)
        .select(col("cnt"), explode(expr(
          """transform(sequence(1, size(lst) - 1),
            |  i -> struct(element_at(lst, i) as l, element_at(lst, i + 1) as r))"""
            .stripMargin)).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("pc"))
        .orderBy(col("pc").desc, col("l"), col("r")).limit(1)
        .collect()(0)
      val (l, r, pc) = (top.getString(0), top.getString(1), top.getLong(2))
      picks += ((rnk, l, r, pc))
      syms = syms.withColumn("sym",
        expr(s"replace(sym, '·${l}··${r}·', '·${l}${r}·')"))
    }
    val spark = s
    import spark.implicits._
    picks.toSeq.toDF("merge_rank", "l", "r", "pair_count")
      .orderBy(col("merge_rank"))
  }

  private def bpeRoundSql(k: Int): String =
    s"""p$k AS (
       |  SELECT lst[i] AS l, lst[i + 1] AS r, CAST(SUM(cnt) AS BIGINT) AS pc
       |  FROM (SELECT cnt, string_split(trim(sym, '·'), '··') AS lst FROM w${k - 1}),
       |       UNNEST(range(1, len(lst))) AS t(i)
       |  GROUP BY 1, 2),
       |m$k AS (SELECT l, r, pc FROM p$k ORDER BY pc DESC, l, r LIMIT 1),
       |w$k AS (
       |  SELECT word, cnt,
       |    replace(sym, '·' || l || '··' || r || '·', '·' || l || r || '·') AS sym
       |  FROM w${k - 1} CROSS JOIN m$k)""".stripMargin

  private val textBpeMergesSql =
    s"""WITH words AS (
       |  SELECT word, COUNT(*) AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE regexp_matches(word, '^[a-z]+$$') GROUP BY word),
       |w0 AS (
       |  SELECT word, cnt,
       |    '·' || array_to_string(list_transform(range(1, len(word) + 1),
       |      i -> substr(word, CAST(i AS INTEGER), 1)), '··') || '·' AS sym
       |  FROM words),
       |${(1 to 3).map(bpeRoundSql).mkString(",\n")}
       |SELECT CAST(merge_rank AS INTEGER) AS merge_rank, l, r, pc AS pair_count FROM (
       |  SELECT 1 AS merge_rank, l, r, pc FROM m1
       |  UNION ALL SELECT 2, l, r, pc FROM m2
       |  UNION ALL SELECT 3, l, r, pc FROM m3)
       |ORDER BY merge_rank""".stripMargin

  /** PMI collocation mining — pointwise mutual information
    * ln(p(ab) / (p(a)·p(b))) over adjacent word pairs, the standard
    * corpus-linguistics detector for multi-word expressions (and the
    * phrase-vocabulary step of word2vec-style phrase building). Reuses
    * the bigram-explode shape of [[textBigramLm]] but scores against
    * UNIGRAM marginals: one bigram-count shuffle + two vocabulary-keyed
    * joins for the marginals (shuffle joins on the term key — the vocab
    * of a 100 TB corpus is not broadcastable) + two broadcast 1-row
    * totals. Global top-50 goes through orderBy+limit
    * (TakeOrderedAndProject — per-partition heaps, no global sort);
    * the rank column is added by a window AFTER the 50-row cut, so the
    * single-partition window only ever sees 50 rows. A min-count floor
    * (≥5) applies the classic low-frequency PMI correction before
    * ranking. */
  private val textPmiCollocations: Q = (s, dir) => {
    val words = split(col("text"), " ")
    val docs = load(s, dir, "documents")
    // r15 NOTE: a single-explode rewrite (trailing-sentinel (a, b) pair
    // per token; unigram marginals derived as Σ_b from the cached
    // pair-count table) was measured and REVERTED: solo min-of-3 across
    // two fresh JVM sessions each, sf0.1 — two-explode {2.67, 3.00} s
    // vs sentinel {3.11, 3.12} s, vanilla twins moving in step. The
    // sentinel form trades the unigram explode for a cache
    // materialization of the distinct-pair table plus a second pass
    // over it, and the explode it removes is the cheap one (token-grain
    // partial agg collapses map-side). Keeping the two-explode form.
    val uni = docs.select(explode(words).as("t")).filter(col("t") =!= "")
      .groupBy(col("t")).agg(count(lit(1)).as("n_t"))
    val nWords = uni.agg(sum(col("n_t")).cast("double").as("n_words"))
    val bi = docs.filter(size(words) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(words) - 1),
        i => struct(element_at(words, i).as("a"), element_at(words, i + 1).as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") =!= "" && col("b") =!= "")
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
    val nBigrams = bi.agg(sum(col("n_ab")).cast("double").as("n_bigrams"))
    val scored = bi.filter(col("n_ab") >= 5)
      .join(uni.select(col("t").as("a"), col("n_t").as("n_a")), "a")
      .join(uni.select(col("t").as("b"), col("n_t").as("n_b")), "b")
      .crossJoin(broadcast(nWords)).crossJoin(broadcast(nBigrams))
      .withColumn("pmi", round(log(
        (col("n_ab") / col("n_bigrams")) /
          ((col("n_a") / col("n_words")) * (col("n_b") / col("n_words")))), 6))
    scored.orderBy(col("pmi").desc, col("a"), col("b")).limit(50)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("pmi").desc, col("a"), col("b"))))
      .select(col("rk"), col("a"), col("b"), col("n_ab"), col("pmi"))
      .orderBy(col("rk"))
  }

  private val textPmiCollocationsSql =
    """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
      |uni AS (
      |  SELECT t AS tkn, COUNT(*) AS n_t
      |  FROM w, unnest(ws) AS u(t) WHERE t <> '' GROUP BY 1),
      |nw AS (SELECT CAST(SUM(n_t) AS DOUBLE) AS n_words FROM uni),
      |bg AS (
      |  SELECT ws[i] AS a, ws[i+1] AS b
      |  FROM (SELECT ws FROM w WHERE len(ws) >= 2),
      |    unnest(generate_series(1, len(ws) - 1)) AS t(i)
      |  WHERE ws[i] <> '' AND ws[i+1] <> ''),
      |bc AS (SELECT a, b, COUNT(*) AS n_ab FROM bg GROUP BY 1, 2),
      |nb AS (SELECT CAST(SUM(n_ab) AS DOUBLE) AS n_bigrams FROM bc),
      |scored AS (
      |  SELECT bc.a, bc.b, bc.n_ab,
      |    ROUND(LN((bc.n_ab / nb.n_bigrams) /
      |      ((ua.n_t / nw.n_words) * (ub.n_t / nw.n_words))), 6) AS pmi
      |  FROM bc
      |  JOIN uni ua ON ua.tkn = bc.a JOIN uni ub ON ub.tkn = bc.b
      |  CROSS JOIN nw CROSS JOIN nb
      |  WHERE bc.n_ab >= 5)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY pmi DESC, a, b) AS INTEGER) AS rk,
      |  a, b, n_ab, pmi
      |FROM (SELECT * FROM scored ORDER BY pmi DESC, a, b LIMIT 50)
      |ORDER BY rk""".stripMargin

  /** Zipf-law fit over the word-frequency distribution: ln(freq) vs
    * ln(rank) slope via the closed-form least-squares aggregate
    * (regr_slope/intercept/r2) on the top-200 vocabulary — the one-line
    * sanity check that a crawled corpus looks like natural language
    * (slope ≈ −1) rather than boilerplate or spam. The global rank is
    * TakeOrdered-bounded (top-200 cut BEFORE the rank window, so the
    * single-partition window sees 200 rows, never the vocabulary).
    * regr_* run over 200 rows in both engines; 4-dp rounding absorbs
    * the two engines' summation-order ulps. */
  private val textZipfFit: Q = (s, dir) => {
    val topWords = load(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("t")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("t")).limit(200)
    topWords
      .withColumn("rk", row_number().over(
        Window.orderBy(col("freq").desc, col("t"))))
      .agg(
        round(expr("regr_slope(ln(freq), ln(rk))"), 4).as("zipf_slope"),
        round(expr("regr_intercept(ln(freq), ln(rk))"), 4).as("zipf_intercept"),
        round(expr("regr_r2(ln(freq), ln(rk))"), 4).as("fit_r2"),
        count(lit(1)).as("n_ranks"))
  }

  private val textZipfFitSql =
    """WITH top AS (
      |  SELECT t AS tkn, COUNT(*) AS freq
      |  FROM documents, unnest(string_split(text, ' ')) AS u(t)
      |  WHERE t <> '' GROUP BY 1
      |  ORDER BY freq DESC, tkn LIMIT 200),
      |ranked AS (
      |  SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, tkn) AS rk
      |  FROM top)
      |SELECT ROUND(regr_slope(ln(freq), ln(rk)), 4) AS zipf_slope,
      |  ROUND(regr_intercept(ln(freq), ln(rk)), 4) AS zipf_intercept,
      |  ROUND(regr_r2(ln(freq), ln(rk)), 4) AS fit_r2,
      |  COUNT(*) AS n_ranks
      |FROM ranked""".stripMargin

  /** Mixture-diversity report — Shannon entropy (nats + normalized),
    * Simpson index, and effective source count of the corpus source
    * mix: the three numbers a dataset card quotes for composition
    * balance. One tiny group-by on the source vocabulary + a broadcast
    * total; shares are exact integer ratios so both engines compute the
    * same doubles. */
  private val docsSourceEntropy: Q = (s, dir) => {
    val counts = load(s, dir, "documents")
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).cast("double").as("tot"),
      count(lit(1)).cast("double").as("k"))
    counts.crossJoin(broadcast(tot))
      .select((col("n") / col("tot")).as("p"), col("k"))
      .agg(
        round(-sum(col("p") * log(col("p"))), 6).as("shannon_nats"),
        round(-sum(col("p") * log(col("p"))) / log(max(col("k"))), 6)
          .as("shannon_normalized"),
        round(lit(1.0) - sum(col("p") * col("p")), 6).as("simpson"),
        round(exp(-sum(col("p") * log(col("p")))), 4).as("effective_sources"),
        max(col("k")).cast("long").as("n_sources"))
  }

  private val docsSourceEntropySql =
    """WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
      |t AS (SELECT CAST(SUM(n) AS DOUBLE) AS tot,
      |             CAST(COUNT(*) AS DOUBLE) AS k FROM c),
      |p AS (SELECT c.n / t.tot AS p, t.k FROM c CROSS JOIN t)
      |SELECT ROUND(-SUM(p * ln(p)), 6) AS shannon_nats,
      |  ROUND(-SUM(p * ln(p)) / ln(MAX(k)), 6) AS shannon_normalized,
      |  ROUND(1.0e0 - SUM(p * p), 6) AS simpson,
      |  ROUND(exp(-SUM(p * ln(p))), 4) AS effective_sources,
      |  CAST(MAX(k) AS BIGINT) AS n_sources
      |FROM p""".stripMargin

  /** Greedy longest-match vocabulary tokenization — the APPLY side of a
    * trained tokenizer ([[textBpeMerges]] is the training side): every
    * distinct word is segmented by repeatedly taking the longest vocab
    * unit that prefixes the remainder, single characters as fallback
    * (so coverage is total and reconstruction is exact). The loop is a
    * pure `aggregate` higher-order expression with bounded trip count
    * (max word length) over a literal vocab — per-row, shuffle-free,
    * stays in the row pipeline at any corpus size; a real tokenizer
    * swaps the literal for a broadcast vocab. ORACLED: DuckDB mirrors
    * the greedy loop as a recursive CTE with the same
    * longest-then-lexicographic match priority. */
  private val greedyVocab: Seq[String] =
    Seq("value", "query", "table", "scan", "hash", "part", "join",
      "row", "agg", "er", "an", "in", "le", "ta", "sc", "va")
      .sortBy(v => (-v.length, v))

  private val textGreedyTokenize: Q = (s, dir) => {
    val vocabArr = array(greedyVocab.map(lit(_)): _*)
    val words = load(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .distinct()
    // trip count from the word itself (each iteration consumes >= 1
    // char, so length(word) steps always empty the remainder) — a fixed
    // cap would silently truncate words longer than it
    val toks = aggregate(
      sequence(lit(1), greatest(length(col("word")), lit(1))),
      struct(col("word").as("rem"),
        array().cast("array<string>").as("toks")),
      (acc, _) => {
        val rem = acc.getField("rem")
        val hits = filter(vocabArr, v => rem.startsWith(v))
        val tok = when(size(hits) > 0, element_at(hits, 1))
          .otherwise(substring(rem, 1, 1))
        when(length(rem) === 0, acc).otherwise(struct(
          rem.substr(length(tok) + 1, length(rem)).as("rem"),
          concat(acc.getField("toks"), array(tok)).as("toks")))
      },
      acc => acc.getField("toks"))
    words.select(col("word"),
        size(toks).as("n_tokens"),
        array_join(toks, "|").as("tokens"))
      .orderBy(col("word"))
  }

  private val textGreedyTokenizeSql = {
    val vocabList = greedyVocab.map("'" + _ + "'").mkString("[", ", ", "]")
    s"""WITH RECURSIVE words AS (
       |  SELECT DISTINCT unnest(string_split(text, ' ')) AS word FROM documents),
       |vocab AS (SELECT unnest($vocabList) AS v),
       |step AS (
       |  SELECT word, word AS rem, CAST([] AS VARCHAR[]) AS toks FROM words
       |  UNION ALL
       |  SELECT word, substr(rem, length(tok) + 1), list_append(toks, tok)
       |  FROM (
       |    SELECT word, rem, toks,
       |      coalesce((SELECT v FROM vocab WHERE starts_with(rem, v)
       |                ORDER BY length(v) DESC, v LIMIT 1),
       |               substr(rem, 1, 1)) AS tok
       |    FROM step WHERE length(rem) > 0))
       |SELECT word, CAST(len(toks) AS INTEGER) AS n_tokens,
       |  array_to_string(toks, '|') AS tokens
       |FROM step WHERE length(rem) = 0
       |ORDER BY word""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "text_greedy_tokenize" -> textGreedyTokenize,
    "text_zipf_fit" -> textZipfFit,
    "docs_source_entropy" -> docsSourceEntropy,
    "text_pmi_collocations" -> textPmiCollocations,
    "text_bpe_merges" -> textBpeMerges,
    "docs_dp_release" -> docsDpRelease,
    "text_vocab_ids" -> textVocabIds,
    "text_quality_classifier" -> textQualityClassifier,
    "text_tfidf_keywords" -> textTfidfKeywords,
    "text_bigram_lm" -> textBigramLm,
    "docs_lm_quality_buckets" -> docsLmQualityBuckets,
    "docs_chunk_overlap" -> docsChunkOverlap,
    "docs_weighted_sample" -> docsWeightedSample,
    "docs_pipeline_e2e" -> docsPipelineE2e,
    "text_bm25_topk" -> textBm25,
    "text_repetition" -> textRepetition,
    "docs_ngram_scrub" -> docsNgramScrub,
    "docs_epoch_shuffle" -> docsEpochShuffle,
    "docs_mixture_quota" -> docsMixtureQuota,
    "docs_temperature_mix" -> docsTemperatureMix,
    "docs_stratified_head" -> docsStratifiedHead,
    "text_decontaminate" -> textDecontaminate,
    "docs_curation" -> docsCuration,
    "docs_pack_batches" -> docsPackBatches,
    "text_redact" -> textRedact,
    "docs_corpus_stats" -> docsCorpusStats,
    "text_tokens" -> textTokens,
    "text_quality" -> textQuality,
    "text_langid" -> textLangId,
    "text_fingerprint" -> textFingerprint,
    "text_top_words_sketch" -> textTopWords)

  val oracles: Map[String, String] = Map(
    "text_greedy_tokenize" -> textGreedyTokenizeSql,
    "text_zipf_fit" -> textZipfFitSql,
    "docs_source_entropy" -> docsSourceEntropySql,
    "text_pmi_collocations" -> textPmiCollocationsSql,
    "text_bpe_merges" -> textBpeMergesSql,
    "docs_dp_release" -> docsDpReleaseSql,
    "text_vocab_ids" -> textVocabIdsSql,
    "text_quality_classifier" -> textQualityClassifierSql,
    "text_tfidf_keywords" -> textTfidfKeywordsSql,
    "text_bigram_lm" -> textBigramLmSql,
    "docs_lm_quality_buckets" -> docsLmQualityBucketsSql,
    "docs_chunk_overlap" -> docsChunkOverlapSql,
    "docs_weighted_sample" -> docsWeightedSampleSql,
    "docs_pipeline_e2e" -> docsPipelineE2eSql,
    "text_bm25_topk" -> textBm25Sql,
    "text_repetition" -> textRepetitionSql,
    "docs_ngram_scrub" -> docsNgramScrubSql,
    "docs_epoch_shuffle" -> docsEpochShuffleSql,
    "docs_mixture_quota" -> docsMixtureQuotaSql,
    "docs_temperature_mix" -> docsTemperatureMixSql,
    "docs_stratified_head" -> docsStratifiedHeadSql,
    "text_decontaminate" -> textDecontaminateSql,
    "docs_curation" -> docsCurationSql,
    "docs_pack_batches" -> docsPackBatchesSql,
    "text_redact" -> textRedactSql,
    "docs_corpus_stats" -> docsCorpusStatsSql,
    "text_tokens" -> textTokensSql,
    "text_quality" -> textQualitySql,
    "text_langid" -> textLangIdSql,
    "text_fingerprint" -> textFingerprintSql,
    "text_top_words_sketch" -> textTopWordsSql)
}
