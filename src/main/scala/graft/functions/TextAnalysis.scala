package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}
import graft.QueryDef
import graft.api.Graft
import graft.api.Graft.{ngrams, tokens}
import graft.sources.Tables._

/** Text-analysis operators for a training-data pipeline: token/char stats,
  * language-ID heuristic, quality scoring, document fingerprinting.
  * Everything is built-in expressions (whole-stage codegen); the per-doc
  * work is embarrassingly parallel — no shuffle except final aggregates.
  */
object TextAnalysis {

  private[graft] val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** summed character length of the token array `toks`, as a long
    * (lambda-free: the length of their concatenation) */
  private[graft] def tokenChars(toks: Column): Column =
    length(concat_ws("", toks)).cast("long")

  /** share of the token array `toks` that is stopwords; an empty array
    * counts as one token */
  private def stopRatio(toks: Column): Column =
    size(filter(toks, t => t.isin(stopwords: _*))).cast("double") /
      greatest(size(toks), lit(1))

  /** `df` plus the text-quality heuristic of its `text` column and that
    * text's tokens in column `toks`: `len_ok` (1 when the text has
    * 100-2000 chars), `stop_ratio`, `tok_len_ok` (1 when the mean token
    * length is 3-8) and `quality` = 0.5 len_ok + 0.25 tok_len_ok + 0.25
    * min(4 stop_ratio, 1). q_text_quality emits these columns;
    * [[graft.api.Graft.qualityFeatures]] labels its rows with `quality`. */
  private[graft] def withQualityGates(df: DataFrame): DataFrame = {
    val meanLen = tokenChars(col("toks")).cast("double") / greatest(size(col("toks")), lit(1))
    df.select(col("*"),
        when(length(col("text")).between(100, 2000), 1).otherwise(0).as("len_ok"),
        stopRatio(col("toks")).as("stop_ratio"),
        when(meanLen.between(3, 8), 1).otherwise(0).as("tok_len_ok"))
      .withColumn("quality", lit(0.5) * col("len_ok") + lit(0.25) * col("tok_len_ok")
        + lit(0.25) * least(col("stop_ratio") * 4, lit(1.0)))
  }

  /** RE2-compatible PII patterns (no lookaround/backrefs): identical
    * match semantics under Java regex (engine) and RE2 (DuckDB oracle).
    * Defined before `defs` — the oracle strings interpolate them at
    * object-initialization time. */
  val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
  val PiiPhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** capture group 1 = the host of an http(s) URL; RE2-compatible */
  val UrlDomainRe = "https?://([A-Za-z0-9.-]+)"

  /** Deterministic PII injection (the fixture text has none): an email on
    * every 5th doc, a phone on every 7th. Shared by q_text_pii_redact and
    * q_pipeline_train_prep so engine and pipeline can't drift. */
  def injectPii(text: Column, id: Column): Column =
    concat(text,
      when(id % 5 === 0,
        concat(lit(" contact user"), id, lit("@example.com"))).otherwise(""),
      when(id % 7 === 0,
        concat(lit(" call 555-"), lpad((id % 1000).cast("string"), 3, "0"),
          lit("-0199"))).otherwise(""))

  def redactPii(c: Column): Column =
    regexp_replace(regexp_replace(c, PiiEmailRe, "<EMAIL>"),
      PiiPhoneRe, "<PHONE>")

  /** DuckDB twins of [[injectPii]]/[[redactPii]], parameterized on the
    * inner SQL expressions. Single-line on purpose: these interpolate
    * into stripMargin templates, where a line starting with `||` would be
    * eaten up to its first `|`. */
  def piiEnrichSql(text: String, id: String): String =
    s"$text || CASE WHEN $id % 5 = 0 THEN ' contact user' || CAST($id AS VARCHAR) || '@example.com' ELSE '' END" +
      s" || CASE WHEN $id % 7 = 0 THEN ' call 555-' || lpad(CAST($id % 1000 AS VARCHAR), 3, '0') || '-0199' ELSE '' END"
  def piiRedactSql(inner: String): String =
    s"regexp_replace(regexp_replace($inner, '$PiiEmailRe', '<EMAIL>', 'g'), '$PiiPhoneRe', '<PHONE>', 'g')"

  /** Rounds of the BPE trainer replayed by [[bpeOracle]]. 8 reaches
    * multi-char recursion on the fixture corpus (step 8 merges p+ar).
    * Declared before `defs` — the oracle string interpolates it at
    * object-initialization time. */
  private[graft] val BpeMerges = 8

  /** Gram width for q_text_dupspans — GPT-3's 13-gram decontamination
    * window, reused as the duplicated-span granularity. Declared before
    * `defs` (interpolated at object-initialization time). */
  private val DupN = 13

  val defs: Seq[QueryDef] = Seq(

    // Token / char statistics. avg token length is int-exact division in
    // double — identical across engines.
    QueryDef(
      "q_text_stats",
      """SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
        |  length(text) AS n_chars_actual,
        |  CAST(CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS DOUBLE)
        |    / len(toks) AS avg_token_len
        |FROM (SELECT doc_id, text,
        |        list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '') AS toks
        |      FROM documents)
        |""".stripMargin) { (s, d) =>
      documents(s, d)
        .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
        .select(
          col("doc_id"),
          size(col("toks")).as("n_tokens"),
          length(col("text")).as("n_chars_actual"),
          (tokenChars(col("toks")).cast("double") / size(col("toks")))
            .as("avg_token_len"))
    },

    // Language-ID heuristic: stopword hit-ratio against a tiny English
    // list. (A production n-gram model is the same shape: per-doc map over
    // tokens + a broadcast lookup — zero shuffle.)
    QueryDef(
      "q_text_langid",
      s"""SELECT doc_id, lang,
         |  CAST(len(list_filter(toks, t -> t IN (${stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE)
         |    / greatest(len(toks), 1) AS stop_ratio,
         |  CASE WHEN CAST(len(list_filter(toks, t -> t IN (${stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE)
         |    / greatest(len(toks), 1) >= 0.05 THEN 'en' ELSE 'unk' END AS pred_lang
         |FROM (SELECT doc_id, lang,
         |        list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS toks
         |      FROM documents)
         |""".stripMargin) { (s, d) =>
      documents(s, d)
        .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
        .withColumn("stop_ratio", stopRatio(col("toks")))
        .withColumn("pred_lang", when(col("stop_ratio") >= 0.05, "en").otherwise("unk"))
        .select("doc_id", "lang", "stop_ratio", "pred_lang")
    },

    // Quality score: bounded-length check, stopword ratio, mean token
    // length in a sane band — integer-derived double arithmetic only.
    QueryDef(
      "q_text_quality",
      s"""SELECT doc_id,
         |  CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 1 ELSE 0 END AS len_ok,
         |  CAST(len(list_filter(toks, t -> t IN (${stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE)
         |    / greatest(len(toks), 1) AS stop_ratio,
         |  CASE WHEN CAST(CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS DOUBLE)
         |      / greatest(len(toks), 1) BETWEEN 3 AND 8 THEN 1 ELSE 0 END AS tok_len_ok,
         |  0.5 * (CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 1 ELSE 0 END)
         |    + 0.25 * (CASE WHEN CAST(CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS DOUBLE)
         |        / greatest(len(toks), 1) BETWEEN 3 AND 8 THEN 1 ELSE 0 END)
         |    + 0.25 * least(CAST(len(list_filter(toks, t -> t IN (${stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE)
         |        / greatest(len(toks), 1) * 4, 1.0) AS quality
         |FROM (SELECT doc_id, text,
         |        list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS toks
         |      FROM documents)
         |""".stripMargin) { (s, d) =>
      withQualityGates(documents(s, d)
          .select(col("doc_id"), col("text"), tokens(col("text")).as("toks")))
        .select("doc_id", "len_ok", "stop_ratio", "tok_len_ok", "quality")
    },

    // TRAINED quality filter (r12): full-batch class-balanced logistic
    // regression over five exact-rational per-doc features, labels from
    // the q_text_quality heuristic consensus — the model-based rung the
    // pipeline was missing (the fastText-shaped filter of production
    // pretraining stacks). Hard-sigmoid link instead of exp (no libm),
    // DECIMAL(38,10) gradient sums, fixed 6 rounds at lr 4.0 — fully
    // deterministic, so the oracle replays EVERY GD round as a
    // materialized 1-row weight stage (the kmeans/BPE pattern) and the
    // final per-doc scores match hash-exactly. Class balancing makes the
    // ~7% junk class learnable (measured at sf0.01: 37/37 junk flagged,
    // unweighted GD collapses to all-clean); planted-junk detection is
    // spec-pinned in TextClassifierSpec.
    QueryDef(
      "q_text_classifier",
      classifierOracle(rounds = 6, lr = 4.0)) { (s, d) =>
      graft.api.Graft.qualityClassifier(documents(s, d), rounds = 6, lr = 4.0)
    },

    // Document fingerprint: md5 over the whitespace-normalized token
    // stream — the canonical pre-step of exact dedup at scale (shuffle the
    // 16-byte digest, never the document).
    QueryDef(
      "q_text_fingerprint",
      """SELECT doc_id,
        |  md5(array_to_string(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> ''), ' ')) AS fp
        |FROM documents
        |""".stripMargin) { (s, d) =>
      documents(s, d)
        .select(col("doc_id"), graft.api.Graft.contentFp(col("text")).as("fp"))
    },

    // Content filter: regex safety/PII flags per doc (email-shaped and
    // url-shaped spans) plus the clean verdict. Patterns are RE2-safe so
    // Java regex (Spark) and RE2 (DuckDB) agree; the shape is the
    // production one — per-row regex, zero shuffle, codegen'd.
    QueryDef(
      "q_text_filter",
      s"""SELECT doc_id,
         |  CAST(regexp_matches(lower(text), '${graft.api.Graft.EmailRe}') AS INT) AS has_email,
         |  CAST(regexp_matches(lower(text), '${graft.api.Graft.UrlRe}') AS INT) AS has_url,
         |  CAST(NOT (regexp_matches(lower(text), '${graft.api.Graft.EmailRe}')
         |            OR regexp_matches(lower(text), '${graft.api.Graft.UrlRe}')) AS INT) AS is_clean
         |FROM documents
         |""".stripMargin) { (s, d) =>
      import graft.api.Graft.{EmailRe, UrlRe, cleanFlag}
      documents(s, d).select(
        col("doc_id"),
        lower(col("text")).rlike(EmailRe).cast("int").as("has_email"),
        lower(col("text")).rlike(UrlRe).cast("int").as("has_url"),
        cleanFlag(col("text")).as("is_clean"))
    },

    // Repetition signal: share of the document taken by its single most
    // frequent token — the cheap boilerplate/spam detector. Exact rational
    // (max count / token count) as one double division.
    QueryDef(
      "q_text_repetition",
      """SELECT doc_id, CAST(max(c) AS BIGINT) AS top_tok,
        |  CAST(max(c) AS DOUBLE) / sum(c) AS rep_ratio,
        |  CAST(CAST(max(c) AS DOUBLE) / sum(c) > 0.2 AS INT) AS is_repetitive
        |FROM (
        |  SELECT doc_id, tok, count(*) AS c FROM (
        |    SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS tok
        |    FROM documents) u GROUP BY 1, 2) t
        |GROUP BY doc_id
        |""".stripMargin) { (s, d) =>
      graft.api.Graft.repetitionRatio(documents(s, d), "doc_id", "text")
        .withColumn("is_repetitive", (col("rep_ratio") > 0.2).cast("int"))
    },

    // Decontamination: drop training docs whose normalized-text digest
    // appears in the held-out eval set (stand-in: doc_id % 50 = 0). The
    // scale shape: fingerprints (16 bytes) broadcast/anti-joined — the
    // documents themselves never shuffle. Content-based, so an eval doc's
    // byte-identical twin under a different id is caught too.
    QueryDef(
      "q_dedup_decontaminate",
      """WITH fp AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> ''), ' ')) AS fp
        |  FROM documents)
        |SELECT t.doc_id, t.fp FROM fp t
        |WHERE t.doc_id % 50 <> 0
        |  AND NOT EXISTS (SELECT 1 FROM fp e WHERE e.doc_id % 50 = 0 AND e.fp = t.fp)
        |""".stripMargin) { (s, d) =>
      val docs = documents(s, d)
      graft.api.Graft.decontaminate(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0), "doc_id", "text")
        .select("doc_id", "fp")
    },

    // N-gram-overlap decontamination (the GPT-3 appendix-C shape): a train
    // doc is contaminated if it shares ANY 13-token n-gram with the eval
    // set — catches partial/embedded overlap the digest check misses. The
    // scale shape: eval 13-gram keys broadcast (eval sets are tiny next to
    // the corpus); train shingles semi-join them; documents never shuffle.
    // Short docs (<13 tokens) have no 13-grams and pass through clean.
    QueryDef(
      "q_dedup_decontaminate_ngram",
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS l
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest([array_to_string(l[i:i+12], ' ') for i in range(1, greatest(len(l) - 11, 1))]) AS shingle
        |    FROM t WHERE len(l) >= 13) u),
        |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
        |shared AS (
        |  SELECT doc_id, count(*) AS n_shared FROM sh
        |  WHERE doc_id % 50 <> 0 AND shingle IN (SELECT shingle FROM ev)
        |  GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(s.n_shared, 0) AS BIGINT) AS n_shared,
        |  CAST(coalesce(s.n_shared, 0) > 0 AS INT) AS contaminated
        |FROM documents d LEFT JOIN shared s ON s.doc_id = d.doc_id
        |WHERE d.doc_id % 50 <> 0
        |""".stripMargin) { (s, d) =>
      val docs = documents(s, d)
      val sh = Graft.shingleSet(docs, "doc_id", "text", n = 13)
      val evalSh = sh.filter(col("doc_id") % 50 === 0).select("shingle").distinct()
      val shared = sh.filter(col("doc_id") % 50 =!= 0)
        .join(broadcast(evalSh), Seq("shingle"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      docs.filter(col("doc_id") % 50 =!= 0).select("doc_id")
        .join(shared, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          (coalesce(col("n_shared"), lit(0L)) > 0).cast("int").as("contaminated"))
    },

    // Novelty scoring: share of a doc's distinct trigrams that occur in NO
    // other document (corpus df = 1) — high novelty marks fresh content,
    // low novelty marks boilerplate worth down-weighting in a training
    // mix. Shuffles trigram keys only; the ratio is one exact int/int
    // division. Docs under 3 tokens have no trigrams and drop out (same
    // domain in both engines).
    QueryDef(
      "q_text_novelty",
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS l
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest([array_to_string(l[i:i+2], ' ') for i in range(1, greatest(len(l) - 1, 1))]) AS shingle
        |    FROM t WHERE len(l) >= 3) u),
        |dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
        |SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |  CAST(CAST(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
        |    / count(*) AS rare_ratio
        |FROM sh JOIN dfreq f ON f.shingle = sh.shingle
        |GROUP BY 1
        |""".stripMargin) { (s, d) =>
      // A df==1 shingle has exactly ONE owning doc, so per-doc rare counts
      // fall out of the shingle-side aggregate directly (min(doc_id) is
      // that owner) — no need to join the document-frequency table back
      // against the full shingle relation and re-group by doc, which
      // shuffled |sh| rows twice. Post-aggregate, only (doc, count) rows
      // move. localCheckpoint: sh feeds both aggregates; without it the
      // tokenize+explode+distinct pipeline runs twice.
      val sh = Graft.shingleSet(documents(s, d), "doc_id", "text", n = 3)
        .localCheckpoint()
      val tot = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      val rare = sh.groupBy("shingle")
        .agg(count(lit(1)).as("df"), min(col("doc_id")).as("doc_id"))
        .filter(col("df") === 1)
        .groupBy("doc_id").agg(count(lit(1)).as("n_rare_nn"))
      tot.join(rare, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_rare_nn"), lit(0L)).as("n_rare"))
        .withColumn("rare_ratio", col("n_rare").cast("double") / col("n_shingles"))
    },

    // Bigram language-model statistics: the most likely next token after
    // each of the 20 most frequent tokens, with its conditional count —
    // the n-gram LM building block. Ranks carry full tie-breaks.
    // Benched since r6: the r4 weak plan (unpartitioned-window top-20) is
    // gone — top-20 is TakeOrderedAndProject, rank a 20x20 broadcast join.
    QueryDef(
      "q_text_bigrams",
      (s: org.apache.spark.sql.SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val bigrams = Graft.bigramPairs(documents(s, d), tokens(col("text")))
        val uni = bigrams.groupBy("w1").agg(count(lit(1)).as("n1"))
        // Top-20 via orderBy+limit (plans as TakeOrderedAndProject), NOT a
        // row_number() over an unpartitioned window — that funnels the whole
        // vocabulary (hundreds of millions of tokens at web-corpus scale)
        // through one task. (n1 DESC, w1 ASC) is a total order (w1 is a
        // group key, hence unique), so the limit is deterministic and both
        // sides of the rank self-join below resolve to the same 20 rows.
        val top20 = uni.orderBy(col("n1").desc, col("w1").asc).limit(20)
        // rank = 1 + rows strictly ahead, via a 20x20 broadcast theta-join —
        // no window node anywhere near unbounded input
        val ahead = col("b.n1") > col("a.n1") ||
          (col("b.n1") === col("a.n1") && col("b.w1") < col("a.w1"))
        val top = top20.as("a").join(broadcast(top20.as("b")), ahead, "left")
          .groupBy(col("a.w1").as("w1"), col("a.n1").as("n1"))
          .agg((count(col("b.w1")) + 1L).as("r1"))
        val cond = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("n12"))
        val wBest = Window.partitionBy("w1").orderBy(col("n12").desc, col("w2").asc)
        cond.join(broadcast(top.select("w1", "n1", "r1")), "w1")
          .withColumn("rb", row_number().over(wBest))
          .filter(col("rb") === 1)
          .select(col("w1"), col("w2").as("best_next"), col("n12"), col("n1"),
            col("r1").cast("int").as("rank"))
      },
      Some("""WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS l
        |  FROM documents WHERE len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) >= 2),
        |bg AS (
        |  SELECT u.b.w1 AS w1, u.b.w2 AS w2 FROM (
        |    SELECT unnest([{'w1': l[i], 'w2': l[i+1]} for i in range(1, len(l))]) AS b FROM t) u),
        |uni AS (SELECT w1, count(*) AS n1 FROM bg GROUP BY 1),
        |top AS (
        |  SELECT w1, n1, CAST(row_number() OVER (ORDER BY n1 DESC, w1 ASC) AS INT) AS rank
        |  FROM uni QUALIFY rank <= 20),
        |cond AS (SELECT w1, w2, count(*) AS n12 FROM bg GROUP BY 1, 2)
        |SELECT c.w1, c.w2 AS best_next, c.n12, tp.n1, tp.rank FROM cond c
        |JOIN top tp ON tp.w1 = c.w1
        |QUALIFY row_number() OVER (PARTITION BY c.w1 ORDER BY c.n12 DESC, c.w2 ASC) = 1
        |""".stripMargin)),

    // Bigram-LM perplexity scoring (r11) — the classic LM-quality data
    // filter beside novelty/repetition/readability: train token-bigram
    // counts with add-one smoothing on the h60 80% split, score every
    // held-out doc by its average per-bigram cost. The log never
    // appears as a float: cost rides the QUANTIZED log2
    //   q16(x) = 16*(bitlen(x)-1) + ((x*16) >> (bitlen(x)-1)) - 16
    // (integer exponent + 4 linear mantissa bits — within 0.15 bit of
    // 16*log2(x), never above it by more than 1/16), so per-bigram
    // cost q16(c1 + V) - q16(c12 + 1) and the per-doc sum are exact
    // BIGINTs both engines share; the only float is the final
    // (score/16.0)/n read-off, two IEEE ops on exact integers (the
    // q_events_autocorr discipline). Held-out tokens outside the train
    // vocabulary map to '<unk>' (counted per doc); smoothing
    // denominators use context counts + (|vocab| + 1).
    //
    // Scale shape: the model is two map-side-combined aggregates over
    // the train bigram stream (distinct pairs/contexts shuffle, never
    // token instances); scoring equi-joins the held-out bigram stream
    // against the count tables on token keys — documents never
    // shuffle, and the vocab join is key-only. At web scale the count
    // tables shuffle-join; here they hash-join under AQE.
    QueryDef(
      "q_text_perplexity",
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS l
        |  FROM documents),
        |tr AS MATERIALIZED (SELECT doc_id, l FROM t
        |  WHERE ('0x' || substr(md5('ppl:' || doc_id::VARCHAR), 1, 15))::BIGINT % 5 <> 0 AND len(l) >= 2),
        |he AS MATERIALIZED (SELECT doc_id, l FROM t
        |  WHERE ('0x' || substr(md5('ppl:' || doc_id::VARCHAR), 1, 15))::BIGINT % 5 = 0 AND len(l) >= 2),
        |bgtr AS MATERIALIZED (
        |  SELECT u.b.w1 AS w1, u.b.w2 AS w2 FROM (
        |    SELECT unnest([{'w1': l[i], 'w2': l[i+1]} for i in range(1, len(l))]) AS b FROM tr) u),
        |c12 AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM bgtr GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*)::BIGINT AS c1 FROM bgtr GROUP BY 1),
        |voc AS MATERIALIZED (SELECT DISTINCT tok FROM (SELECT unnest(l) AS tok FROM tr) u),
        |vv AS (SELECT count(*)::BIGINT + 1 AS v FROM voc),
        |pos AS (
        |  SELECT doc_id, i AS p, l[CAST(i AS INT)] AS tok
        |  FROM he, UNNEST(range(1, len(l) + 1)) AS t2(i)),
        |mapped AS MATERIALIZED (
        |  SELECT p.doc_id, p.p,
        |    CASE WHEN v.tok IS NULL THEN '<unk>' ELSE p.tok END AS tok,
        |    CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM pos p LEFT JOIN voc v ON v.tok = p.tok),
        |bghe AS (
        |  SELECT a.doc_id, a.tok AS w1, b.tok AS w2
        |  FROM mapped a JOIN mapped b ON b.doc_id = a.doc_id AND b.p = a.p + 1),
        |sc AS (
        |  SELECT g.doc_id,
        |    coalesce(c1.c1, 0) + vv.v AS den,
        |    coalesce(c12.c12, 0) + 1 AS num
        |  FROM bghe g
        |  LEFT JOIN c12 ON c12.w1 = g.w1 AND c12.w2 = g.w2
        |  LEFT JOIN c1 ON c1.w1 = g.w1, vv),
        |cost AS (
        |  SELECT doc_id,
        |    (((den * 16) >> (length(format('{:b}', den)) - 1))
        |       + 16 * (length(format('{:b}', den)) - 1) - 16)
        |    - (((num * 16) >> (length(format('{:b}', num)) - 1))
        |       + 16 * (length(format('{:b}', num)) - 1) - 16) AS cq
        |  FROM sc),
        |oo AS (SELECT doc_id, sum(oov)::BIGINT AS n_oov FROM mapped GROUP BY 1)
        |SELECT c.doc_id, count(*)::BIGINT AS n_bigrams, max(oo.n_oov) AS n_oov,
        |  sum(c.cq)::BIGINT AS score_q16,
        |  (CAST(sum(c.cq) AS DOUBLE) / 16.0) / count(*) AS avg_bits
        |FROM cost c JOIN oo ON oo.doc_id = c.doc_id
        |GROUP BY 1
        |""".stripMargin) { (s, d) =>
      val t = documents(s, d).select(col("doc_id"), tokens(col("text")).as("l"))
      val sp = graft.Exact.h60(concat(lit("ppl:"), col("doc_id").cast("string"))) % 5
      val tr = t.filter(sp =!= 0 && size(col("l")) >= 2)
      val he = t.filter(sp === 0 && size(col("l")) >= 2)
      val bgtr = Graft.bigramPairs(tr, col("l"))
        .localCheckpoint() // feeds the pair AND context counts
      val c12 = bgtr.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val c1 = bgtr.groupBy("w1").agg(count(lit(1)).as("c1"))
      val voc = tr.select(explode(col("l")).as("vtok")).distinct()
        .localCheckpoint() // feeds V and the unk mapping
      val vv = voc.agg((count(lit(1)) + 1L).as("v"))
      val pos = he.select(col("doc_id"), posexplode(col("l")).as(Seq("p0", "tok")))
        .select(col("doc_id"), (col("p0") + 1).as("p"), col("tok"))
      val mapped = pos.join(voc, pos("tok") === voc("vtok"), "left")
        .select(col("doc_id"), col("p"),
          when(col("vtok").isNull, lit("<unk>")).otherwise(col("tok")).as("tok"),
          when(col("vtok").isNull, 1L).otherwise(0L).as("oov"))
        .localCheckpoint() // bigram self-join (both sides) + oov agg
      val bghe = mapped.as("a").join(mapped.as("b"),
          col("a.doc_id") === col("b.doc_id") && col("b.p") === col("a.p") + 1)
        .select(col("a.doc_id").as("doc_id"),
          col("a.tok").as("w1"), col("b.tok").as("w2"))
      val sc = bghe.join(c12, Seq("w1", "w2"), "left")
        .join(c1, Seq("w1"), "left")
        .crossJoin(broadcast(vv))
        .select(col("doc_id"),
          (coalesce(col("c1"), lit(0L)) + col("v")).as("den"),
          (coalesce(col("c12"), lit(0L)) + lit(1L)).as("num"))
      import graft.Exact.q16
      val cost = sc.select(col("doc_id"), (q16("den") - q16("num")).as("cq"))
      val oo = mapped.groupBy("doc_id").agg(sum("oov").as("n_oov"))
      cost.groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("cq").as("score_q16"))
        .join(oo, "doc_id")
        .select(col("doc_id"), col("n_bigrams"), col("n_oov"), col("score_q16"),
          ((col("score_q16").cast("double") / 16.0) / col("n_bigrams"))
            .as("avg_bits"))
    },

    // Collocation mining by pointwise mutual information — the phrase
    // extractor a corpus pipeline runs before tokenizer training (find
    // "new york"-style units worth fusing). PMI's log never appears:
    // the association is emitted as the integer lift
    // cooc * N * 10^6 div (c1 * c2) — P(w1,w2) / (P(w1.)P(.w2)) over
    // the bigram event space in parts-per-million; log is monotone, so
    // ranking by lift IS ranking by PMI, and every quantity is exact
    // integer arithmetic both engines share (products stay under 2^63
    // through web-corpus N ~ 10^6 at this scaling; rescale the ppm
    // factor for larger N). Min support 3 keeps one-off juxtapositions
    // out (the classic PMI low-count pathology). Top-20 by
    // (lift desc, w1, w2) — a total order over group keys, so the
    // limit is deterministic and plans as TakeOrderedAndProject.
    //
    // Scale shape: marginals and pairs are three map-side-combined
    // aggregates over the bigram stream (distinct tokens/pairs
    // shuffle, never token instances); the 1-row total broadcasts.
    QueryDef(
      "q_text_pmi",
      (s: org.apache.spark.sql.SparkSession, d: String) => {
        val bigrams = Graft.bigramPairs(documents(s, d), tokens(col("text")))
          .localCheckpoint() // feeds both marginals, the pairs, the total
        val uni1 = bigrams.groupBy("w1").agg(count(lit(1)).as("c1"))
        val uni2 = bigrams.groupBy("w2").agg(count(lit(1)).as("c2"))
        val tot = bigrams.agg(count(lit(1)).as("nn"))
        bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("cooc"))
          .filter(col("cooc") >= 3)
          .join(uni1, "w1").join(uni2, "w2")
          .crossJoin(broadcast(tot))
          .select(col("w1"), col("w2"), col("cooc"), col("c1"), col("c2"),
            expr("(cooc * nn * 1000000L) div (c1 * c2)").as("lift_ppm"))
          .orderBy(col("lift_ppm").desc, col("w1").asc, col("w2").asc)
          .limit(20)
      },
      Some("""WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS l
        |  FROM documents WHERE len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) >= 2),
        |bg AS MATERIALIZED (
        |  SELECT u.b.w1 AS w1, u.b.w2 AS w2 FROM (
        |    SELECT unnest([{'w1': l[i], 'w2': l[i+1]} for i in range(1, len(l))]) AS b FROM t) u),
        |u1 AS (SELECT w1, count(*)::BIGINT AS c1 FROM bg GROUP BY 1),
        |u2 AS (SELECT w2, count(*)::BIGINT AS c2 FROM bg GROUP BY 1),
        |nn AS (SELECT count(*)::BIGINT AS nn FROM bg),
        |pairs AS (
        |  SELECT w1, w2, count(*)::BIGINT AS cooc FROM bg GROUP BY 1, 2
        |  HAVING count(*) >= 3)
        |SELECT p.w1, p.w2, p.cooc, u1.c1, u2.c2,
        |  (p.cooc * nn.nn * 1000000) // (u1.c1 * u2.c2) AS lift_ppm
        |FROM pairs p JOIN u1 USING (w1) JOIN u2 USING (w2), nn
        |ORDER BY lift_ppm DESC, p.w1 ASC, p.w2 ASC LIMIT 20
        |""".stripMargin)),

    // Subword-ish counting: whitespace tokens + vowel-group segments (a
    // cheap BPE proxy; RE2-compatible, no lookaround).
    QueryDef(
      "q_text_subwords",
      """SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '')) AS INT) AS n_tokens,
        |  CAST(len(regexp_split_to_array(text, '[aeiou]+')) - 1 AS INT) AS n_vowel_groups,
        |  length(regexp_replace(text, '[^aeiou]', '', 'g')) AS n_vowels
        |FROM documents
        |""".stripMargin) { (s, d) =>
      documents(s, d).select(
        col("doc_id"),
        size(tokens(col("text"))).as("n_tokens"),
        (size(split(col("text"), "[aeiou]+")) - 1).as("n_vowel_groups"),
        (length(col("text")) - length(regexp_replace(col("text"), "[aeiou]", ""))).as("n_vowels"))
    },

    // PII redaction: scrub emails and phone numbers before training. The
    // fixture text carries no PII, so the query first INJECTS deterministic
    // PII (an email on every 5th doc, a phone on every 7th — mirrored in
    // the oracle), then redacts with RE2-compatible patterns (no
    // lookaround; identical semantics in Java regex and DuckDB/RE2).
    // Per-doc narrow transform — zero shuffle, codegen regex.
    QueryDef(
      "q_text_pii_redact",
      s"""SELECT doc_id,
         |  ${piiRedactSql("enriched")} AS redacted,
         |  CAST(len(regexp_extract_all(enriched, '$PiiEmailRe')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(enriched, '$PiiPhoneRe')) AS INT) AS n_phones
         |FROM (
         |  SELECT doc_id, ${piiEnrichSql("text", "doc_id")}
         |    AS enriched
         |  FROM documents) t
         |""".stripMargin) { (s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          injectPii(col("text"), col("doc_id")).as("enriched"))
        .select(
          col("doc_id"),
          redactPii(col("enriched")).as("redacted"),
          size(regexp_extract_all(col("enriched"), lit(PiiEmailRe), lit(0))).as("n_emails"),
          size(regexp_extract_all(col("enriched"), lit(PiiPhoneRe), lit(0))).as("n_phones"))
    },

    // URL/domain extraction + blocklist flag — the corpus-hygiene stage
    // that drops documents from known-bad hosts. Fixture text has no
    // URLs, so they are injected deterministically: every 4th doc links
    // to host (doc_id/4) % 20 — the /4 keeps the host index coprime with
    // the injection stride, so all 20 hosts (including the blocklisted
    // ones) actually occur. Extraction is one codegen regex, the rollup
    // one shuffle on domain. Both engines return '' from regexp_extract
    // on no match.
    QueryDef(
      "q_text_urls",
      s"""SELECT domain, count(*) AS n_docs,
         |  domain IN ('site3.example.org', 'site7.example.org') AS blocked
         |FROM (
         |  SELECT regexp_extract(
         |    text || CASE WHEN doc_id % 4 = 0
         |      THEN ' see https://site' || CAST((doc_id // 4) % 20 AS VARCHAR) || '.example.org/path' ELSE '' END,
         |    '$UrlDomainRe', 1) AS domain
         |  FROM documents) t
         |WHERE domain <> ''
         |GROUP BY domain
         |""".stripMargin) { (s, d) =>
      documents(s, d)
        .select(regexp_extract(
          concat(col("text"),
            when(col("doc_id") % 4 === 0,
              concat(lit(" see https://site"),
                (floor(col("doc_id") / 4) % 20).cast("long"),
                lit(".example.org/path"))).otherwise("")),
          UrlDomainRe, 1).as("domain"))
        .filter(col("domain") =!= "")
        .groupBy("domain")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("blocked",
          col("domain").isin("site3.example.org", "site7.example.org"))
        .select("domain", "n_docs", "blocked")
    },

    // Sequence packing for training: concatenate documents into fixed
    // L-token context windows, next-fit with straddle (how pretraining
    // packers actually batch: docs are laid end-to-end per bucket and cut
    // at L boundaries). Each doc gets (bucket, bin, offset). The bucket
    // hash-spreads the fold so packing is embarrassingly parallel across
    // buckets — per-bucket window cumsum, one shuffle on bucket, no
    // global sequential state (the 100 TB version partitions identically).
    QueryDef(
      "q_text_pack",
      """SELECT doc_id, bucket, n_tokens,
        |  CAST(cum_before // 256 AS INT) AS bin,
        |  CAST(cum_before % 256 AS INT) AS bin_offset
        |FROM (
        |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS bucket, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY doc_id % 16 ORDER BY doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM (
        |    SELECT doc_id,
        |      CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '')) AS BIGINT) AS n_tokens
        |    FROM documents) t) p
        |""".stripMargin) { (s, d) =>
      graft.api.Graft.packSequences(
          documents(s, d).select(col("doc_id"),
            size(tokens(col("text"))).cast("long").as("n_tokens")),
          "doc_id", "n_tokens")
        .select("doc_id", "bucket", "n_tokens", "bin", "bin_offset")
    },

    // Duplicated-span detection — the within-corpus repeated-substring
    // signal (the n-gram-granular shape of Lee et al.'s exact-substring
    // dedup): every 13-token gram that occurs more than once ANYWHERE in
    // the corpus (other docs or the same doc) marks its 13 positions as
    // duplicated; per doc, report the duplicated-start count, the union
    // coverage, and the covered-token fraction. Scale shape: grams
    // shuffle as 8-byte h60 keys (never the 13-word strings), the
    // duplicate check is one count aggregate, and coverage is a bounded
    // 13x explode of dup STARTS only (rare) into a distinct-position
    // count — no per-token state, no windows.
    QueryDef(
      "q_text_dupspans",
      dupStages +
        s"""cov AS (SELECT doc_id, count(DISTINCT d.p + o)::BIGINT AS n_covered
           |  FROM dup d, UNNEST(range(0, $DupN)) AS v(o) GROUP BY doc_id),
           |st AS (SELECT doc_id, count(*)::BIGINT AS n_dup_starts FROM dup GROUP BY doc_id)
           |SELECT t.doc_id, len(t.l)::BIGINT AS n_tokens,
           |  coalesce(st.n_dup_starts, 0) AS n_dup_starts,
           |  coalesce(cov.n_covered, 0) AS n_covered,
           |  coalesce(cov.n_covered, 0)::DOUBLE / len(t.l) AS dup_frac
           |FROM tok t LEFT JOIN st USING (doc_id) LEFT JOIN cov USING (doc_id)
           |""".stripMargin) { (s, d) =>
      val (tok, dup) = dupGramStarts(s, d)
      val cov = dup
        .select(col("doc_id"),
          explode(expr(s"sequence(p, p + ${DupN - 1})")).as("q"))
        .groupBy("doc_id").agg(countDistinct("q").as("n_covered"))
      val st = dup.groupBy("doc_id").agg(count(lit(1)).as("n_dup_starts"))
      tok.join(st, Seq("doc_id"), "left").join(cov, Seq("doc_id"), "left")
        .select(col("doc_id"), size(col("l")).cast("long").as("n_tokens"),
          coalesce(col("n_dup_starts"), lit(0L)).as("n_dup_starts"),
          coalesce(col("n_covered"), lit(0L)).as("n_covered"),
          (coalesce(col("n_covered"), lit(0L)).cast("double") /
            size(col("l"))).as("dup_frac"))
    },

    // The act-on-signal twin of q_text_dupspans: CUT every duplicated
    // 13-gram span out of the text (the cleaning step of exact-substring
    // dedup). The span cut itself is IN-ROW: each doc's (rare) dup-start
    // list joins back doc-keyed, and a filter-with-exists lambda drops
    // covered positions — the corpus token stream never shuffles, only
    // 8-byte gram keys and dup starts do.
    QueryDef(
      "q_text_despan",
      dupStages +
        s"""st AS (SELECT doc_id, list(p ORDER BY p) AS starts FROM dup GROUP BY doc_id),
           |cut AS (
           |  SELECT t.doc_id, t.l,
           |    [t.l[p::INT] for p in range(1, len(t.l) + 1)
           |      if len(list_filter(coalesce(st.starts, []::BIGINT[]), s -> s <= p AND p <= s + ${DupN - 1})) = 0] AS kept
           |  FROM tok t LEFT JOIN st ON st.doc_id = t.doc_id)
           |SELECT doc_id, len(l)::BIGINT AS n_tokens,
           |  (len(l) - len(kept))::BIGINT AS n_removed,
           |  coalesce(array_to_string(kept, ' '), '') AS clean_text
           |FROM cut
           |""".stripMargin) { (s, d) =>
      val (tok, dup) = dupGramStarts(s, d)
      val st = dup.groupBy("doc_id").agg(collect_list(col("p")).as("starts"))
      tok.join(st, Seq("doc_id"), "left")
        .withColumn("starts",
          coalesce(col("starts"), expr("cast(array() AS array<int>)")))
        .withColumn("keptE", expr(
          "filter(transform(l, (x, i) -> struct(x AS x, i + 1 AS p)), " +
            s"e -> NOT exists(starts, s -> s <= e.p AND e.p <= s + ${DupN - 1}))"))
        .select(col("doc_id"),
          size(col("l")).cast("long").as("n_tokens"),
          (size(col("l")) - size(col("keptE"))).cast("long").as("n_removed"),
          array_join(expr("transform(keptE, e -> e.x)"), " ").as("clean_text"))
    },

    // BPE vocabulary training — the tokenizer-fitting stage of a
    // pretraining pipeline, as a distributed merge loop (Graft.bpeTrain).
    // Integer-exact end to end: pair frequencies are BIGINT sums, the
    // rule choice carries a full (freq desc, lhs, rhs) tie-break, so the
    // oracle replay is hash-exact with zero float caveats. The oracle
    // replays each round as materialized CTE stages; its merge step uses
    // an independent FORMULATION (window-function run-parity: overlapping
    // matches only occur in runs of equal symbols, where greedy takes
    // alternate positions) — agreement of two formulations is the check.
    QueryDef("q_text_bpe_train", bpeOracle(BpeMerges)) { (s, d) =>
      graft.api.Graft.bpeTrain(
        documents(s, d)
          .select(explode(tokens(col("text"))).as("w"))
          .groupBy("w").agg(count(lit(1)).as("cnt")),
        BpeMerges)._1
    },

    // The apply side of the tokenizer: encode every document with the
    // trained segmentation — per-doc whitespace-token and BPE-token
    // counts. The trained vocab (final `syms` per distinct word) joins
    // back against the per-doc word stream; the vocab side is bounded by
    // vocabulary so AQE broadcasts it — the corpus never shuffles. At
    // 100 TB this is THE hot path (one pass, one broadcast); training
    // cost amortizes to zero against it.
    QueryDef("q_text_bpe_encode", bpeEncodeOracle) { (s, d) =>
      val docWords = documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      val vocab = graft.api.Graft.bpeTrain(
        docWords.groupBy("w").agg(count(lit(1)).as("cnt")), BpeMerges)._2
      // broadcast is FORCED on the vocab side: at fixture scale Catalyst
      // would happily broadcast the (locally tiny) corpus token stream
      // instead — exactly the side that is 100 TB in production
      docWords
        .join(broadcast(
          vocab.select(col("w"), size(col("syms")).cast("long").as("n"))), "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum("n").as("n_bpe_tokens"))
    },

    // Tokenizer-equity report (r12): per-LANGUAGE fertility (BPE tokens
    // per word), compression (bytes per BPE token), and the share of
    // fully-merged single-token words, all under the corpus-trained BPE
    // vocab — the metric suite a tokenizer eval runs before committing a
    // vocab (fertility skew across languages = training-cost skew).
    // Same scale shape as q_text_bpe_encode: the trained vocab
    // broadcasts, the word stream aggregates map-side per language;
    // all ratios are exact integer/integer double divisions. Oracle
    // replays the Sennrich training rounds, then states the same
    // per-lang aggregate.
    QueryDef("q_text_fertility", fertilityOracle) { (s, d) =>
      val docWords = documents(s, d)
        .select(col("lang"), explode(tokens(col("text"))).as("w"))
      val vocab = graft.api.Graft.bpeTrain(
        docWords.groupBy("w").agg(count(lit(1)).as("cnt")), BpeMerges)._2
      docWords
        .join(broadcast(
          vocab.select(col("w"), size(col("syms")).cast("long").as("n"))), "w")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"),
          sum("n").as("n_bpe_tokens"),
          sum(octet_length(col("w")).cast("long")).as("n_bytes"),
          sum(when(col("n") === 1L, 1L).otherwise(0L)).as("n_single"))
        .select(col("lang"), col("n_words"), col("n_bpe_tokens"),
          (col("n_bpe_tokens").cast("double") / col("n_words")).as("fertility"),
          (col("n_bytes").cast("double") / col("n_bpe_tokens")).as("bytes_per_token"),
          (col("n_single").cast("double") / col("n_words")).as("single_token_share"))
    },

    // Readability scoring (Flesch reading ease) — the document-quality
    // signal next to length/punct/stopword ratios: words from the
    // shared tokenizer, sentences counted by terminal punctuation via
    // translate() length-difference (identical in both engines, no
    // regex dialect in the hot path), syllables approximated by vowel
    // groups (one RE2-safe regexp_count). The score is pure double
    // arithmetic over exact integer counts and shared literals —
    // identical expression structure in both engines, so doubles match
    // bit-for-bit. English docs only (the formula is anglocentric; for
    // zh the vowel-group proxy is meaningless).
    QueryDef(
      "q_text_readability",
      """SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_words,
        |  CAST(greatest(1, length(text) - length(translate(text, '.!?', ''))) AS BIGINT) AS n_sentences,
        |  CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT) AS n_vowel_groups,
        |  206.835
        |    - 1.015 * (CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS BIGINT)
        |               / CAST(greatest(1, length(text) - length(translate(text, '.!?', ''))) AS BIGINT))
        |    - 84.6 * (CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT)
        |              / CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS BIGINT)) AS flesch
        |FROM documents
        |WHERE lang = 'en'
        |  AND len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) > 0
        |""".stripMargin) { (s, d) =>
      documents(s, d)
        .filter(col("lang") === "en")
        .select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_words"),
          greatest(lit(1),
            length(col("text")) - length(translate(col("text"), ".!?", "")))
            .cast("long").as("n_sentences"),
          regexp_count(lower(col("text")), lit("[aeiou]+")).cast("long")
            .as("n_vowel_groups"))
        .filter(col("n_words") > 0)
        .select(col("doc_id"), col("n_words"), col("n_sentences"),
          col("n_vowel_groups"),
          (lit(206.835)
            - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
            - lit(84.6) * (col("n_vowel_groups").cast("double") / col("n_words")))
            .as("flesch"))
    },

    // Phrase search over a positional inverted index — the search-engine
    // primitive: postings are (doc, position, token) rows; a two-token
    // phrase query resolves as an equi join of the two terms' postings
    // on (doc, adjacent positions). The query phrase is data-driven (the
    // corpus's top bigram under the full (count desc, w1, w2) tie-break)
    // so the query is self-contained at any scale factor. Scale shape:
    // the phrase terms broadcast (2 strings) and each probe side prunes
    // the postings to ITS term before the position join — postings for
    // absent tokens never shuffle; the positional index is built once
    // (checkpointed; in production it is the persisted artifact) and the
    // bigram statistic rides the same index.
    QueryDef(
      "q_text_phrase_search",
      """WITH tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS l
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, i AS p, l[CAST(i AS INT)] AS tok
        |  FROM tok, UNNEST(range(1, len(l) + 1)) AS t(i)),
        |bg AS (
        |  SELECT a.tok AS w1, b.tok AS w2, count(*) AS n
        |  FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1
        |  GROUP BY 1, 2),
        |top1 AS (SELECT w1, w2 FROM bg ORDER BY n DESC, w1, w2 LIMIT 1)
        |SELECT a.doc_id, count(*) AS n_hits
        |FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1
        |JOIN top1 ON a.tok = top1.w1 AND b.tok = top1.w2
        |GROUP BY a.doc_id
        |""".stripMargin) { (s, d) =>
      val pos = documents(s, d)
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("p0", "tok")))
        .select(col("doc_id"), (col("p0") + 1).as("p"), col("tok"))
        .localCheckpoint() // the index: bigram stats + both probe sides
      val bg = pos.select(col("doc_id"), col("p"), col("tok").as("w1"))
        .join(pos.select(col("doc_id"), (col("p") - 1).as("p"), col("tok").as("w2")),
          Seq("doc_id", "p"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
      val top1 = bg.orderBy(col("n").desc, col("w1"), col("w2")).limit(1)
        .select("w1", "w2")
      val probeA = pos.join(broadcast(top1), col("tok") === col("w1"))
        .select(col("doc_id"), col("p"))
      val probeB = pos.join(broadcast(top1), col("tok") === col("w2"))
        .select(col("doc_id").as("doc_b"), col("p").as("pb"))
      probeA.join(probeB,
          col("doc_b") === col("doc_id") && col("pb") === col("p") + 1)
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    },

    // Proximity (slop) search over the same positional index: documents
    // where the corpus's two most frequent DISTINCT tokens co-occur
    // within 5 positions, with pair count and closest approach — the
    // "w1 NEAR/5 w2" retrieval primitive one step up from exact-phrase
    // adjacency. The probe terms are data-derived under a total order
    // (count desc, token asc — rank via a 2x2 broadcast theta-join, the
    // q_text_bigrams trick, never an unpartitioned window), and the
    // proximity test rides the doc-keyed equi join as a residual:
    // per-doc work is occ(t1) x occ(t2), the posting-list intersection
    // cost every search engine pays — absent terms never shuffle.
    QueryDef(
      "q_text_proximity",
      """WITH tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS l
        |  FROM documents),
        |pos AS MATERIALIZED (
        |  SELECT doc_id, i AS p, l[CAST(i AS INT)] AS tok
        |  FROM tok, UNNEST(range(1, len(l) + 1)) AS t(i)),
        |cnt AS (SELECT tok, count(*) AS n FROM pos GROUP BY 1),
        |rk AS (SELECT tok, row_number() OVER (ORDER BY n DESC, tok ASC) AS r
        |  FROM cnt QUALIFY r <= 2),
        |w1 AS (SELECT tok FROM rk WHERE r = 1),
        |w2 AS (SELECT tok FROM rk WHERE r = 2)
        |SELECT a.doc_id, (SELECT tok FROM w1) AS t1, (SELECT tok FROM w2) AS t2,
        |  count(*)::BIGINT AS n_pairs, min(abs(a.p - b.p))::BIGINT AS min_dist
        |FROM pos a JOIN w1 ON a.tok = w1.tok
        |JOIN pos b ON b.doc_id = a.doc_id
        |JOIN w2 ON b.tok = w2.tok
        |WHERE abs(a.p - b.p) <= 5
        |GROUP BY a.doc_id
        |""".stripMargin) { (s, d) =>
      val pos = documents(s, d)
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("p0", "tok")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("p"), col("tok"))
        .localCheckpoint() // the index: term stats + both probe sides
      val cnt = pos.groupBy("tok").agg(count(lit(1)).as("n"))
      val top2 = cnt.orderBy(col("n").desc, col("tok").asc).limit(2)
      val ahead = col("b.n") > col("a.n") ||
        (col("b.n") === col("a.n") && col("b.tok") < col("a.tok"))
      val ranked = top2.as("a").join(broadcast(top2.as("b")), ahead, "left")
        .groupBy(col("a.tok").as("tok"))
        .agg((count(col("b.tok")) + 1L).as("r"))
      val t1 = ranked.filter(col("r") === 1).select(col("tok").as("t1"))
      val t2 = ranked.filter(col("r") === 2).select(col("tok").as("t2"))
      val probeA = pos.join(broadcast(t1), col("tok") === col("t1"))
        .select(col("doc_id"), col("p"), col("t1"))
      val probeB = pos.join(broadcast(t2), col("tok") === col("t2"))
        .select(col("doc_id").as("doc_b"), col("p").as("pb"), col("t2"))
      probeA.join(probeB,
          col("doc_b") === col("doc_id") && abs(col("pb") - col("p")) <= 5)
        .groupBy("doc_id", "t1", "t2")
        .agg(count(lit(1)).as("n_pairs"),
          min(abs(col("p") - col("pb"))).as("min_dist"))
        .select("doc_id", "t1", "t2", "n_pairs", "min_dist")
    },

    // Cross-source n-gram overlap matrix — the mixture diagnostic a
    // pretraining pipeline runs before weighting sources: pairwise
    // Jaccard over each source's DISTINCT token-trigram set. Candidate
    // generation is the trigram equi self-join: per trigram the work is
    // |sources containing it|² <= S², so the whole matrix costs
    // O(distinct trigrams x S²) with S a handful — never a doc-level
    // comparison. Set sizes broadcast back (S rows); Jaccard is one
    // double division of exact longs.
    QueryDef(
      "q_text_source_overlap",
      """WITH tok AS (
        |  SELECT source, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS l
        |  FROM documents),
        |tg AS (
        |  SELECT DISTINCT source,
        |    unnest([l[i] || ' ' || l[i+1] || ' ' || l[i+2]
        |            for i in range(1, len(l) - 1)]) AS tg
        |  FROM tok WHERE len(l) >= 3),
        |sz AS (SELECT source, count(*) AS n FROM tg GROUP BY 1),
        |ov AS (
        |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_inter
        |  FROM tg a JOIN tg b ON a.tg = b.tg AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, n_inter,
        |  sa.n + sb.n - n_inter AS n_union,
        |  CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
        |FROM ov JOIN sz sa ON sa.source = src_a JOIN sz sb ON sb.source = src_b
        |""".stripMargin) { (s, d) =>
      val tg = documents(s, d)
        .select(col("source"), explode(ngrams(tokens(col("text")), 3)).as("tg"))
        .distinct()
        .localCheckpoint() // sizes + both join sides from one distinct pass
      val sz = tg.groupBy("source").agg(count(lit(1)).as("n"))
      tg.select(col("source").as("src_a"), col("tg"))
        .join(tg.select(col("source").as("src_b"), col("tg")), Seq("tg"))
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_inter"))
        .join(broadcast(sz.select(col("source").as("src_a"), col("n").as("na"))), "src_a")
        .join(broadcast(sz.select(col("source").as("src_b"), col("n").as("nb"))), "src_b")
        .select(col("src_a"), col("src_b"), col("n_inter"),
          (col("na") + col("nb") - col("n_inter")).as("n_union"),
          (col("n_inter").cast("double") /
            (col("na") + col("nb") - col("n_inter"))).as("jaccard"))
    }
  )

  /** DuckDB mirror of [[graft.api.Graft.bpeTrain]]: word counts, then
    * per round — positions with lead() pairs, the best rule (same full
    * tie-break), greedy-merge via run-parity (i - row_number() groups
    * consecutive matched positions; offsets 0,2,4… within a run are the
    * pairs greedy takes — overlap is only possible when lhs = rhs), and
    * the rebuilt symbol list (positions consumed as a merge's right side
    * drop out via the anti-join on k at i-1). Every stage a CTE,
    * multiply-referenced ones MATERIALIZED. Leaves b1..b$m (the rules)
    * and w${m+1} (the final segmentation) defined for the caller's
    * tail. */
  private def bpeStages(m: Int): String = {
    val base =
      """wc AS MATERIALIZED (SELECT w, count(*)::BIGINT AS cnt FROM (
        |    SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '')) AS w
        |    FROM documents) GROUP BY w),
        |w1 AS MATERIALIZED (SELECT w, cnt,
        |  list_transform(range(1, length(w) + 1), i -> substr(w, i::INT, 1)) AS syms FROM wc)""".stripMargin
    val rounds = (1 to m).map { t =>
      s"""p$t AS MATERIALIZED (SELECT w, cnt, i, sym,
         |  lead(sym) OVER (PARTITION BY w ORDER BY i) AS nxt FROM (
         |    SELECT w, cnt, i, syms[i::INT] AS sym
         |    FROM w$t, UNNEST(range(1, len(syms) + 1)) AS u(i))),
         |b$t AS MATERIALIZED (SELECT sym AS lhs, nxt AS rhs, SUM(cnt)::BIGINT AS freq
         |  FROM p$t WHERE nxt IS NOT NULL GROUP BY 1, 2
         |  ORDER BY freq DESC, lhs, rhs LIMIT 1),
         |k$t AS MATERIALIZED (SELECT w, i FROM (
         |    SELECT w, i, i - min(i) OVER (PARTITION BY w, grp) AS off FROM (
         |      SELECT p.w, p.i, p.i - row_number() OVER (PARTITION BY p.w ORDER BY p.i) AS grp
         |      FROM p$t p, b$t b WHERE p.sym = b.lhs AND p.nxt = b.rhs))
         |  WHERE off % 2 = 0),
         |w${t + 1} AS MATERIALIZED (SELECT p.w, any_value(p.cnt) AS cnt,
         |  list(CASE WHEN k.i IS NOT NULL THEN b.lhs || b.rhs ELSE p.sym END ORDER BY p.i) AS syms
         |  FROM p$t p CROSS JOIN b$t b
         |  LEFT JOIN k$t k ON k.w = p.w AND k.i = p.i
         |  LEFT JOIN k$t k2 ON k2.w = p.w AND k2.i = p.i - 1
         |  WHERE k2.i IS NULL GROUP BY p.w)""".stripMargin
    }
    "WITH " + (base +: rounds).mkString(",\n") + "\n"
  }

  /** The duplicated-13-gram kernel shared by q_text_dupspans (measure)
    * and q_text_despan (cut): tokenized docs (checkpointed — they feed
    * the gram explode AND the final per-doc join) and the (doc_id, p)
    * start positions of grams occurring more than once corpus-wide.
    * Grams shuffle as 8-byte h60 keys, never 13-word strings. */
  private[graft] def dupGramStarts(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val tok = documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("l"))
      .localCheckpoint()
    // a gram's position p is its 1-based start token, the oracle's
    // list_slice start
    val grams = tok
      .select(col("doc_id"), posexplode(ngrams(col("l"), DupN)).as(Seq("p0", "gtxt")))
      .select(col("doc_id"), (col("p0") + 1).as("p"),
        graft.Exact.h60(col("gtxt")).as("g"))
    // duplicate test as a count window PARTITIONED BY the gram key: one
    // shuffle of the gram relation and ONE md5 pass — the groupBy+join
    // formulation derived the grams twice (build and probe sides),
    // measured ~0.7 s slower per query at sf0.1
    val wg = org.apache.spark.sql.expressions.Window.partitionBy("g")
    val dup = grams.withColumn("c", count(lit(1)).over(wg))
      .filter(col("c") > 1)
      .select("doc_id", "p").localCheckpoint() // feeds both query tails
    (tok, dup)
  }

  /** Oracle twin of [[dupGramStarts]]: the tok/grams/gc/dup CTE prefix
    * both dup-span oracles extend (ends with a trailing comma). */
  private def dupStages: String =
    s"""WITH tok AS MATERIALIZED (
       |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS l FROM documents),
       |grams AS MATERIALIZED (
       |  SELECT doc_id, p,
       |    ('0x' || substr(md5(array_to_string(list_slice(l, p::INT, (p + $DupN - 1)::INT), ' ')), 1, 15))::BIGINT AS g
       |  FROM tok, UNNEST(range(1, len(l) - $DupN + 2)) AS u(p)),
       |gc AS MATERIALIZED (SELECT g, count(*)::BIGINT AS c FROM grams GROUP BY g),
       |dup AS MATERIALIZED (SELECT doc_id, p FROM grams JOIN gc USING (g) WHERE gc.c > 1),
       |""".stripMargin

  /** DuckDB mirror of the bpe-encode pipeline (train, then count BPE
    * tokens per doc under the final segmentation). Shared by
    * q_text_bpe_encode and its streaming twin q_stream_bpe_encode —
    * the stream is stateless+complete-mode, so batching can't change
    * the fixpoint. */
  private[graft] def bpeEncodeOracle: String =
    bpeStages(BpeMerges) +
      s"""SELECT d.doc_id, count(*)::BIGINT AS n_words,
         |  SUM(len(f.syms))::BIGINT AS n_bpe_tokens
         |FROM (
         |  SELECT doc_id,
         |    unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')) AS w
         |  FROM documents) d
         |JOIN w${BpeMerges + 1} f USING (w)
         |GROUP BY d.doc_id
         |""".stripMargin

  /** DuckDB mirror of q_text_fertility: the bpeStages training replay,
    * then the per-language fertility/compression aggregate over the
    * word stream joined with the final vocab. */
  private def fertilityOracle: String =
    bpeStages(BpeMerges) +
      s"""SELECT d.lang, count(*)::BIGINT AS n_words,
         |  SUM(len(f.syms))::BIGINT AS n_bpe_tokens,
         |  SUM(len(f.syms))::DOUBLE / count(*) AS fertility,
         |  SUM(strlen(d.w))::DOUBLE / SUM(len(f.syms)) AS bytes_per_token,
         |  SUM(CASE WHEN len(f.syms) = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*) AS single_token_share
         |FROM (
         |  SELECT lang,
         |    unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')) AS w
         |  FROM documents) d
         |JOIN w${BpeMerges + 1} f USING (w)
         |GROUP BY d.lang
         |""".stripMargin

  /** DuckDB mirror of `Graft.bpeTrain(...)._1` — the learned rules. */
  private def bpeOracle(m: Int): String =
    bpeStages(m) + (1 to m)
      .map(t => s"SELECT $t AS step, lhs, rhs, freq FROM b$t")
      .mkString("\nUNION ALL ") + "\n"

  /** DuckDB replay of [[graft.api.Graft.qualityClassifier]]: the feature
    * CTE (same exact-rational expressions and heuristic label), then
    * every class-balanced GD round as a MATERIALIZED 1-row weight stage —
    * hard-sigmoid scoring pass, per-class DECIMAL(38,10) gradient sums
    * leaving through round(·,6)::DOUBLE, IEEE weight updates in the
    * engine's exact expression order — then the final scoring pass.
    * `trainWhere`/`scoreWhere` split the corpus: training stages read
    * `feat` (the train set), the output pass reads `feats` (the score
    * set) — empty strings mean the whole table (the batch query); the
    * streaming twin trains on the static split and scores arrivals. */
  private def classifierOracle(rounds: Int, lr: Double,
      trainWhere: String = "", scoreWhere: String = ""): String = {
    val stop = stopwords.map("'" + _ + "'").mkString(",")
    val xs = (1 to 5).map(k => s"x$k")
    val z = "w.b" + xs.map(x => s" + w.w_$x * f.$x").mkString
    def pCte(t: Int, wc: String, from: String): String =
      s"""p$t AS (
         |  SELECT f.*, w.b, ${xs.map(x => s"w.w_$x").mkString(", ")}, w.nj, w.nc,
         |    least(1.0, greatest(0.0, 0.5 + 0.25 * ($z))) AS p
         |  FROM $from f CROSS JOIN $wc w)""".stripMargin
    def csum(yv: String, e: String): String =
      s"CAST(round(sum(CASE WHEN y = $yv THEN CAST($e AS DECIMAL(38,10)) END), 6) AS DOUBLE)"
    def upd(wname: String, e: String): String =
      s"max($wname) - $lr * (0.5 * (${csum("1.0", e)} / max(nj)) " +
        s"+ 0.5 * (${csum("0.0", e)} / max(nc))) AS $wname"
    def wCte(t: Int): String =
      s"""w$t AS MATERIALIZED (
         |  SELECT ${upd("b", "(p - y)")},
         |    ${xs.map(x => upd(s"w_$x", s"(p - y) * $x")).mkString(",\n    ")},
         |    max(nj) AS nj, max(nc) AS nc
         |  FROM p$t)""".stripMargin
    def featCte(name: String, where: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT doc_id,
         |    least(len(toks), 200)::DOUBLE / 200.0 AS x1,
         |    len(list_filter(toks, t -> t IN ($stop)))::DOUBLE / greatest(len(toks), 1) AS x2,
         |    least(coalesce(CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT), 0)::DOUBLE
         |      / greatest(len(toks), 1), 10.0) / 10.0 AS x3,
         |    len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1) AS x4,
         |    length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / greatest(length(text), 1) AS x5,
         |    CASE WHEN 0.5 * (CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 1 ELSE 0 END)
         |      + 0.25 * (CASE WHEN coalesce(CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT), 0)::DOUBLE
         |          / greatest(len(toks), 1) BETWEEN 3 AND 8 THEN 1 ELSE 0 END)
         |      + 0.25 * least(len(list_filter(toks, t -> t IN ($stop)))::DOUBLE
         |          / greatest(len(toks), 1) * 4, 1.0) < 0.5
         |    THEN 1.0 ELSE 0.0 END AS y
         |  FROM t $where)""".stripMargin
    s"""WITH t AS (SELECT doc_id, text,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS toks
       |  FROM documents),
       |""".stripMargin +
      featCte("feat", trainWhere) + ",\n" +
      featCte("feats", scoreWhere) + ",\n" +
      s"""w0 AS (SELECT 0.01::DOUBLE AS b, ${xs.map(x => s"0.0::DOUBLE AS w_$x").mkString(", ")},
         |  sum(y) AS nj, count(*)::DOUBLE - sum(y) AS nc FROM feat),
         |""".stripMargin +
      (1 to rounds).map(t => pCte(t, s"w${t - 1}", "feat") + ",\n" + wCte(t))
        .mkString(",\n") + ",\n" +
      pCte(rounds + 1, s"w$rounds", "feats") + "\n" +
      s"""SELECT doc_id, CAST(y AS INT) AS y_heur, p AS score, p >= 0.5 AS flagged
         |FROM p${rounds + 1}
         |""".stripMargin
  }

  /** Oracle for the streaming twin (q_stream_classifier): train on the
    * static corpus split, score the arriving split — the batching-free
    * fixpoint a stateless broadcast-inference stream must equal. */
  private[graft] def streamClassifierOracle: String =
    classifierOracle(rounds = 6, lr = 4.0,
      trainWhere = "WHERE doc_id % 3 = 0",
      scoreWhere = "WHERE doc_id % 3 <> 0")
}
