package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.operators.Sketches
import graft.sources.Tables._

/** Dataset-management operators for a training-data pipeline: tf-idf term
  * ranking, deterministic hash sampling, stratified per-class subsampling,
  * and reproducible train/val/test splits.
  *
  * The reference has no sampling or weighting of any kind (SURVEY.md §2.2);
  * these are the standard corpus-curation steps between its WordCount-style
  * token statistics and model training.
  *
  * Scale design: every sampler is a pure per-row hash predicate — no
  * coordination, no RNG state, no second pass; identical output on any
  * cluster layout, any partitioning, any retry (h60 is the portable md5-60
  * hash, so the DuckDB oracles state the same predicate). The stratified
  * sampler is the only shuffle (one window per class); tf-idf shuffles
  * (doc, term) pairs once for tf and once on term for the df join.
  */
object Sampling {

  val defs: Seq[QueryDef] = Seq(

    // tf-idf top-3 terms per document. The score is the RATIONAL form
    // tf * N / df (monotone in tf * idf for a fixed corpus; log() would
    // drag libm cross-engine ulp differences into the ordering) computed
    // as exact-int product then one correctly-rounded double division —
    // bit-identical in both engines. Ranks are emitted, full (score desc,
    // term asc) tie-break.
    QueryDef(
      "q_text_tfidf",
      """WITH tok AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents)
SELECT doc_id, term, rnk FROM (
  SELECT tf.doc_id, tf.term,
    CAST(row_number() OVER (PARTITION BY tf.doc_id
      ORDER BY CAST(tf.tf * n.n AS DOUBLE) / df.df DESC, tf.term ASC) AS INT) AS rnk
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n) t
WHERE rnk <= 3
""".stripMargin) { (s, d) =>
      graft.api.Graft.tfidfTopTerms(documents(s, d), "doc_id", "text", k = 3)
    },

    // Partition backfill under DYNAMIC partition overwrite — the
    // idempotent-reprocessing primitive every batch pipeline needs
    // (Airflow-style backfills, INSERT OVERWRITE PARTITION): the full
    // aggregate lands partitioned by event_type, then ONE partition is
    // recomputed under a corrected rule and rewritten with
    // partitionOverwriteMode=dynamic — only the partitions present in
    // the backfill frame are replaced, every other partition's files
    // stay untouched. The read-back aggregate is oracled against the
    // expected final state, so BOTH failure modes break the hash: a
    // static overwrite (wipes the untouched partitions) and a
    // non-overwrite append (double-counts the corrected one). At
    // 100 TB this is the only sane repair shape: the rewrite cost is
    // one partition, not the table.
    QueryDef(
      "q_pipeline_backfill",
      s"""WITH base AS (
  SELECT * FROM events WHERE event_type <> 'click' OR value >= 1.0),
${Layout.bucketCte("g", "base")}
SELECT event_type, count(*)::BIGINT AS n_buckets,
  sum(n_events)::BIGINT AS n_events,
  CAST(round(sum(sv), 4) AS DOUBLE) AS total_value
FROM g GROUP BY event_type
""".stripMargin) { (s, d) =>
      val dir = scratchDir(s, d, "backfill_events")
      val ev = events(s, d)
      // initial load: every partition
      Layout.buckets(ev).write.mode("overwrite").partitionBy("event_type")
        .parquet(dir)
      // backfill: ONE partition recomputed under the corrected rule,
      // dynamic overwrite so untouched partitions survive the rewrite
      Layout.buckets(Layout.correctedClicks(ev)).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type").parquet(dir)
      Layout.rollup(s.read.parquet(dir))
    },

    // CSV interchange round-trip: a lineitem projection exported to CSV
    // (header, per-session scratch dir) and read back under an EXPLICIT
    // schema — never inference, which at 100 TB means a second full
    // pass and type drift — then aggregated. The oracle computes the
    // same aggregate from the parquet source, so any row lost, value
    // mangled (timestamp format, double round-trip), or type weakened
    // by the export/import breaks the hash. Doubles survive because
    // both writers emit round-trip-exact representations; the revenue
    // sum still goes through exact decimal per the repo rule.
    QueryDef(
      "q_source_csv_roundtrip",
      """SELECT l_returnflag, count(*) AS n_lines,
  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue,
  CAST(max(l_shipdate) AS VARCHAR) AS max_shipdate
FROM lineitem WHERE l_quantity >= 25
GROUP BY l_returnflag
""".stripMargin) { (s, d) =>
      val dir = scratchDir(s, d, "csv_lineitem")
      lineitem(s, d)
        .filter(col("l_quantity") >= 25)
        .select("l_returnflag", "l_extendedprice", "l_discount", "l_shipdate")
        .write.mode("overwrite").option("header", "true").csv(dir)
      s.read
        .schema("l_returnflag STRING, l_extendedprice DOUBLE, " +
          "l_discount DOUBLE, l_shipdate TIMESTAMP_NTZ")
        .option("header", "true").csv(dir)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_lines"),
          graft.Exact.decOut(sum(graft.Exact.dec(
            col("l_extendedprice") * (lit(1) - col("l_discount")))))
            .as("revenue"),
          max(col("l_shipdate")).cast("string").as("max_shipdate"))
    },

    // JSON-lines interchange round-trip: the same contract for the
    // other ubiquitous export format (and the one LLM corpora actually
    // ship as — jsonl). Explicit schema on read; the oracle aggregates
    // the parquet source directly, so the JSON writer/parser pair must
    // preserve every row and value bit-for-bit to hash-match.
    QueryDef(
      "q_source_json_roundtrip",
      """SELECT o_orderpriority, count(*) AS n_orders,
  CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue,
  max(o_orderkey) AS max_key
FROM orders WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority
""".stripMargin) { (s, d) =>
      val dir = scratchDir(s, d, "json_orders")
      orders(s, d)
        .filter(col("o_orderstatus") === "O")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .write.mode("overwrite").json(dir)
      s.read
        .schema("o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE")
        .json(dir)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          graft.Exact.decOut(sum(graft.Exact.dec(col("o_totalprice"))))
            .as("revenue"),
          max("o_orderkey").as("max_key"))
    },

    // ORC interchange round-trip — the third warehouse format, same
    // contract as the CSV/JSON pair: export, read back, aggregate
    // against an oracle computed from the parquet source. ORC carries
    // its own schema (unlike CSV) and its own encodings, so this is
    // the no-inference path where only value fidelity is on trial.
    QueryDef(
      "q_source_orc_roundtrip",
      """SELECT c_mktsegment, count(*) AS n_custs,
  CAST(round(sum(CAST(c_acctbal AS DECIMAL(38,10))), 4) AS DOUBLE) AS total_bal,
  max(c_custkey) AS max_key
FROM customer WHERE c_acctbal > 0
GROUP BY c_mktsegment
""".stripMargin) { (s, d) =>
      val dir = scratchDir(s, d, "orc_customer")
      customer(s, d)
        .filter(col("c_acctbal") > 0)
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .write.mode("overwrite").orc(dir)
      s.read.orc(dir)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_custs"),
          graft.Exact.decOut(sum(graft.Exact.dec(col("c_acctbal"))))
            .as("total_bal"),
          max("c_custkey").as("max_key"))
    },

    // Schema evolution under mergeSchema — the lake-table reality that
    // files written in different eras carry different columns: a v1
    // batch lands without o_totalprice, a v2 batch lands with it, and
    // the merged read must surface the union schema with NULLs for the
    // v1 rows (count vs count(col) makes the distinction observable).
    // The oracle states the same union semantics over the source, so a
    // reader that dropped v1 rows, failed the merge, or zero-filled
    // instead of null-filling breaks the hash. At 100 TB schema
    // evolution is a metadata concern — the merged read prunes and
    // pushes down exactly like a uniform one (footgun is requiring a
    // full-footer scan: production tables pin the union schema in the
    // catalog, which is what the explicit-schema read would model).
    QueryDef(
      "q_source_schema_evolution",
      """WITH v1 AS (
  SELECT o_orderkey, o_orderpriority, CAST(NULL AS DOUBLE) AS o_totalprice
  FROM orders WHERE o_orderkey % 2 = 0),
v2 AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice
  FROM orders WHERE o_orderkey % 2 = 1),
u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
SELECT o_orderpriority, count(*) AS n_rows,
  count(o_totalprice) AS n_priced,
  CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue
FROM u GROUP BY o_orderpriority
""".stripMargin) { (s, d) =>
      val dir = scratchDir(s, d, "evo_orders")
      val ords = orders(s, d)
      ords.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_orderpriority")
        .write.mode("overwrite").parquet(dir + "/v=1")
      ords.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .write.mode("overwrite").parquet(dir + "/v=2")
      s.read.option("mergeSchema", "true").parquet(dir)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          count(col("o_totalprice")).as("n_priced"),
          graft.Exact.decOut(sum(graft.Exact.dec(col("o_totalprice"))))
            .as("revenue"))
    },

    // Bad-record quarantine on JSON ingest — the PERMISSIVE-mode
    // corrupt-record routing every production feed needs: a jsonl batch
    // where a deterministic slice of lines (o_orderkey % 97 = 0) is
    // malformed, read back under an explicit schema with
    // _corrupt_record, good rows aggregated and broken rows COUNTED,
    // never dropped — the quarantine contract is that nothing silently
    // disappears (n_good + n_quarantined = the batch). The read
    // materializes via localCheckpoint before touching the corrupt
    // column (Spark disallows filters over the internal corrupt column
    // on the streaming-in parse). The oracle derives both populations
    // from the same % 97 predicate on the parquet source.
    QueryDef(
      "q_source_quarantine",
      """SELECT
  count(CASE WHEN o_orderkey % 97 <> 0 THEN 1 END) AS n_good,
  count(CASE WHEN o_orderkey % 97 = 0 THEN 1 END) AS n_quarantined,
  CAST(round(sum(CASE WHEN o_orderkey % 97 <> 0
    THEN CAST(o_totalprice AS DECIMAL(38,10)) END), 4) AS DOUBLE) AS revenue
FROM orders
""".stripMargin) { (s, d) =>
      val dir = scratchDir(s, d, "quar_orders")
      orders(s, d)
        .select(when(col("o_orderkey") % 97 === 0,
            concat(lit("{broken "), col("o_orderkey").cast("string")))
          .otherwise(to_json(struct(col("o_orderkey"), col("o_totalprice"))))
          .as("value"))
        .write.mode("overwrite").text(dir)
      s.read
        .schema("o_orderkey BIGINT, o_totalprice DOUBLE, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(dir)
        .localCheckpoint()
        .agg(
          count(when(col("_corrupt_record").isNull, 1)).as("n_good"),
          count(when(col("_corrupt_record").isNotNull, 1)).as("n_quarantined"),
          graft.Exact.decOut(sum(when(col("_corrupt_record").isNull,
            graft.Exact.dec(col("o_totalprice"))))).as("revenue"))
    },

    // Context-length chunking: each doc's token stream cut into
    // consecutive 64-token sequences (the pre-training sequence prep).
    QueryDef(
      "q_text_chunk",
      """WITH tok AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS l
  FROM documents),
ch AS (
  SELECT doc_id, unnest([{'cn': i, 'nt': least(len(l) - i*64, 64),
                          'tx': array_to_string(l[i*64+1 : i*64+64], ' ')}
                         for i in range(0, (len(l) + 63) // 64)]) AS c
  FROM tok WHERE len(l) > 0)
SELECT doc_id, CAST(c.cn AS INT) AS chunk_no, CAST(c.nt AS INT) AS n_tokens,
  c.tx AS chunk_text
FROM ch
""".stripMargin) { (s, d) =>
      graft.api.Graft.chunkTokens(documents(s, d), "doc_id", "text", 64)
    },

    // END-TO-END curation pipeline: length + cleanliness + repetition
    // quality gates, exact-dedup keep-first, eval-set decontamination,
    // then reproducible split assignment — the whole library composed in
    // one flow, reported as per-(split, lang) doc/token counts. Every
    // stage is a pattern proven by its standalone query.
    QueryDef(
      "q_pipeline_curate",
      s"""WITH t AS (
  SELECT doc_id, lang, text,
    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS l
  FROM documents),
base AS (
  SELECT doc_id, lang, CAST(len(l) AS BIGINT) AS n_tokens, length(text) AS n_chars,
    md5(array_to_string(l, ' ')) AS fp,
    CASE WHEN regexp_matches(lower(text), '${graft.api.Graft.EmailRe}')
           OR regexp_matches(lower(text), '${graft.api.Graft.UrlRe}') THEN 0 ELSE 1 END AS clean
  FROM t),
rep AS (
  SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS rr FROM (
    SELECT doc_id, tok, count(*) AS c FROM (
      SELECT doc_id, unnest(l) AS tok FROM t) u GROUP BY 1, 2) g
  GROUP BY 1),
keep AS (SELECT min(doc_id) AS doc_id FROM base GROUP BY fp),
evalfp AS (SELECT fp FROM base WHERE doc_id % 50 = 0),
surv AS (
  SELECT b.doc_id, b.lang, b.n_tokens,
    ('0x' || substr(md5('split:' || b.doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS bkt
  FROM base b
  JOIN rep r ON r.doc_id = b.doc_id
  JOIN keep k ON k.doc_id = b.doc_id
  WHERE b.n_chars BETWEEN 100 AND 2000 AND b.clean = 1 AND r.rr <= 0.2
    AND b.doc_id % 50 <> 0
    AND NOT EXISTS (SELECT 1 FROM evalfp e WHERE e.fp = b.fp))
SELECT CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split,
  lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM surv GROUP BY 1, 2
""".stripMargin) { (s, d) =>
      import graft.api.Graft
      val docs = documents(s, d)
      val toks = Graft.tokens(col("text"))
      val base = docs.select(col("doc_id"), col("lang"),
        size(toks).cast("long").as("n_tokens"), length(col("text")).as("n_chars"),
        Graft.contentFp(col("text")).as("fp"),
        Graft.cleanFlag(col("text")).as("clean"))
      val rep = Graft.repetitionRatio(docs, "doc_id", "text")
        .select(col("doc_id"), col("rep_ratio").as("rr"))
      val keep = base.groupBy("fp").agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val evalFp = base.filter(col("doc_id") % 50 === 0).select("fp")
      base
        .join(rep, "doc_id")
        .join(keep, Seq("doc_id"), "left_semi")
        .filter(col("n_chars").between(100, 2000) && col("clean") === 1
          && col("rr") <= 0.2 && col("doc_id") % 50 =!= 0)
        .join(broadcast(evalFp), Seq("fp"), "left_anti")
        .withColumn("bkt",
          graft.Exact.h60(concat(lit("split:"), col("doc_id").cast("string"))) % 100)
        .withColumn("split",
          when(col("bkt") < 80, "train").when(col("bkt") < 90, "val").otherwise("test"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
    },

    // THE end-to-end corpus build (r11): the canonical LLM-pretraining
    // chain — exact dedup -> MinHash near-dup -> 13-gram eval
    // decontamination -> quality gates -> per-language token budget ->
    // epoch-rate mixture -> next-fit sequence packing — composed into
    // ONE query under ONE hash gate. Every stage is the standalone
    // query's exact pattern (q_dedup_exact / q_dedup_minhash /
    // q_dedup_decontaminate_ngram / q_pipeline_curate's gates /
    // q_sample_budget / q_sample_mixture / q_text_pack), and the
    // oracle restates each as a MATERIALIZED CTE — the integration
    // proof that the pipeline operators compose, mirroring the
    // reference's one end-to-end artifact (client.py:17 ->
    // namenode.py:362 -> datanode.py:113 -> output files).
    //
    // Stage rules, stated identically in both engines:
    //  - exact: keep min(doc_id) per md5 content fingerprint;
    //  - near-dup: MinHash(16)/LSH(4x4) candidates, exact-Jaccard
    //    verify >= 0.5, then drop the LARGER id of every verified pair
    //    (greedy keep-first; the CC-canonical variant is
    //    q_dedup_clusters);
    //  - decontaminate: drop docs sharing ANY 13-gram with the eval
    //    split (doc_id % 50 = 0), and the eval docs themselves;
    //  - quality: 100 <= chars <= 2000, no email/url span, repetition
    //    ratio <= 0.2;
    //  - budget: per-lang 20k-token cap in the deterministic h60
    //    shuffle order; mixture: en 1.5x / de 1.0x / fr 0.5x /
    //    es 0.25x / zh 0.1x epoch rates (hash-fractional copies);
    //  - pack: copies lay end-to-end per hash bucket, cut at 256.
    //
    // Scale shape: ids and 16-byte digests shuffle; the only text that
    // moves is each exact-dedup survivor's, once, keyed by doc_id into
    // the row-local MinHash kernel (the dedup/decontamination joins are
    // semi/anti on keys, eval grams broadcast); the only windows are the per-class budget
    // cumsum and the per-bucket pack cumsum, both partitioned by their
    // scale-out key. Each stage's plan is the one its standalone query
    // pins in PLANS.md.
    QueryDef(
      "q_pipeline_corpus",
      s"""WITH base AS MATERIALIZED (
  SELECT doc_id, lang,
    CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
    length(text) AS n_chars,
    md5(array_to_string(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> ''), ' ')) AS fp,
    CASE WHEN regexp_matches(lower(text), '${graft.api.Graft.EmailRe}')
           OR regexp_matches(lower(text), '${graft.api.Graft.UrlRe}') THEN 0 ELSE 1 END AS clean
  FROM documents),
ex AS MATERIALIZED (SELECT min(doc_id) AS doc_id FROM base GROUP BY fp),
tok AS MATERIALIZED (
  SELECT d.doc_id, list_filter(regexp_split_to_array(lower(d.text), '\\s+'), x -> x <> '') AS l
  FROM documents d JOIN ex ON ex.doc_id = d.doc_id),
sh AS MATERIALIZED (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, unnest([array_to_string(l[i:i+2], ' ') for i in range(1, greatest(len(l) - 1, 1))]) AS shingle
    FROM tok WHERE len(l) >= 3) u),
h2 AS (
  SELECT doc_id,
    ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS ha,
    ('0x' || substr(md5(shingle), 16, 15))::BIGINT % 72057594037927936 AS hb
  FROM sh),
hv AS (
  SELECT doc_id, i, min((ha + i * hb) % 1152921504606846976) AS mh
  FROM h2, range(16) r(i) GROUP BY 1, 2),
sig AS (SELECT doc_id, list(mh ORDER BY i) AS sig FROM hv GROUP BY 1),
banded AS (
  SELECT doc_id, b, md5(array_to_string(sig[b*4+1:b*4+4], ',')) AS bandkey
  FROM sig, range(4) r2(b)),
cand AS (
  SELECT DISTINCT x.doc_id AS i, y.doc_id AS j
  FROM banded x JOIN banded y
    ON x.b = y.b AND x.bandkey = y.bandkey AND x.doc_id < y.doc_id),
cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
inter AS (
  SELECT c.i, c.j, count(*) AS n FROM cand c
  JOIN sh a ON a.doc_id = c.i
  JOIN sh b ON b.doc_id = c.j AND b.shingle = a.shingle
  GROUP BY 1, 2),
neardrop AS (
  SELECT DISTINCT j AS doc_id FROM inter
  JOIN cnt ca ON ca.doc_id = i JOIN cnt cb ON cb.doc_id = j
  WHERE CAST(n AS DOUBLE) / (ca.c + cb.c - n) >= 0.5),
near AS MATERIALIZED (
  SELECT e.doc_id FROM ex e
  WHERE NOT EXISTS (SELECT 1 FROM neardrop nd WHERE nd.doc_id = e.doc_id)),
t13 AS MATERIALIZED (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS l
  FROM documents),
sh13 AS MATERIALIZED (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, unnest([array_to_string(l[i:i+12], ' ') for i in range(1, greatest(len(l) - 11, 1))]) AS shingle
    FROM t13 WHERE len(l) >= 13) u),
ev AS (SELECT DISTINCT shingle FROM sh13 WHERE doc_id % 50 = 0),
contam AS (
  SELECT DISTINCT doc_id FROM sh13
  WHERE doc_id % 50 <> 0 AND shingle IN (SELECT shingle FROM ev)),
rep AS MATERIALIZED (
  SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS rr FROM (
    SELECT doc_id, tk, count(*) AS c FROM (
      SELECT doc_id, unnest(l) AS tk FROM t13) u GROUP BY 1, 2) g
  GROUP BY 1),
qual AS MATERIALIZED (
  SELECT b.doc_id, b.lang, b.n_tokens
  FROM base b
  JOIN near nr ON nr.doc_id = b.doc_id
  JOIN rep r ON r.doc_id = b.doc_id
  WHERE b.doc_id % 50 <> 0
    AND NOT EXISTS (SELECT 1 FROM contam c WHERE c.doc_id = b.doc_id)
    AND b.n_chars BETWEEN 100 AND 2000 AND b.clean = 1 AND r.rr <= 0.2),
bud AS MATERIALIZED (
  SELECT doc_id, lang, n_tokens FROM (
    SELECT doc_id, lang, n_tokens,
      CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang
        ORDER BY ('0x' || substr(md5('bud:' || doc_id::VARCHAR), 1, 15))::BIGINT ASC, doc_id ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
    FROM qual) c
  WHERE cum_before + n_tokens <= 20000),
mix AS MATERIALIZED (
  SELECT doc_id, lang, n_tokens, CAST(unnest(range(1, n_copies + 1)) AS INT) AS copy FROM (
    SELECT doc_id, lang, n_tokens,
      (r // 100) + CASE WHEN ('0x' || substr(md5('mix:' || doc_id::VARCHAR), 1, 15))::BIGINT % 100 < r % 100
        THEN 1 ELSE 0 END AS n_copies
    FROM (SELECT doc_id, lang, n_tokens,
            CASE lang WHEN 'en' THEN 150 WHEN 'de' THEN 100 WHEN 'fr' THEN 50
                      WHEN 'es' THEN 25 WHEN 'zh' THEN 10 ELSE 0 END AS r
          FROM bud) t) c),
packed AS (
  SELECT doc_id, copy, lang, n_tokens,
    CAST(pid % 16 AS INT) AS bucket,
    coalesce(sum(n_tokens) OVER (PARTITION BY pid % 16 ORDER BY pid ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM (SELECT doc_id, copy, lang, n_tokens, doc_id * 2 + copy - 1 AS pid FROM mix) m)
SELECT doc_id, copy, lang, n_tokens, bucket,
  CAST(cum_before // 256 AS INT) AS bin,
  CAST(cum_before % 256 AS INT) AS bin_offset
FROM packed
""".stripMargin) { (s, d) =>
      import graft.api.Graft
      val docs = documents(s, d)
      // per-doc attrs, text-free — one tokenize pass, then only ids and
      // digests move through the exact-dedup stage
      val base = docs.select(col("doc_id"), col("lang"),
          size(Graft.tokens(col("text"))).cast("long").as("n_tokens"),
          length(col("text")).as("n_chars"),
          Graft.contentFp(col("text")).as("fp"),
          Graft.cleanFlag(col("text")).as("clean"))
        .localCheckpoint()
      val keepEx = base.groupBy("fp").agg(min("doc_id").as("doc_id")).select("doc_id")
      val exDocs = docs.join(keepEx, Seq("doc_id"), "left_semi")
      val pairs = Graft.minhashPairs(Graft.shingleArrays(exDocs, "doc_id", "text"),
        threshold = 0.5)
      val nearIds = keepEx
        .join(pairs.select(col("j").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      // Decontamination is existence-only here (drop on ANY shared
      // 13-gram), so neither side needs the per-(doc, shingle) distinct
      // or a full-corpus shingle materialization: the eval side
      // explodes only the 2% eval split (the filter pushes below the
      // tokenize), and the corpus side streams its grams straight into
      // the broadcast semi join — the q_dedup_decontaminate_ngram
      // shape, minus even its distinct (that query COUNTS shared grams;
      // this one only tests membership).
      val evalSh = Graft.shingleSet(docs.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", n = 13).select("shingle").distinct()
      val contam = Graft.shingleSet(docs.filter(col("doc_id") % 50 =!= 0),
          "doc_id", "text", n = 13, dedup = false)
        .join(broadcast(evalSh), Seq("shingle"), "left_semi")
        .select("doc_id").distinct()
      // the repetition ratio only gates docs that survive every other
      // filter — tokenize/explode THOSE, not the corpus (the rr <= 0.2
      // verdict of a doc already dropped is never read)
      val preQual = base
        .join(nearIds, Seq("doc_id"), "left_semi")
        .filter(col("doc_id") % 50 =!= 0)
        .join(contam, Seq("doc_id"), "left_anti")
        .filter(col("n_chars").between(100, 2000) && col("clean") === 1)
        .select("doc_id", "lang", "n_tokens")
      val rep = Graft.repetitionRatio(
          docs.join(preQual.select("doc_id"), Seq("doc_id"), "left_semi"),
          "doc_id", "text")
        .select(col("doc_id"), col("rep_ratio").as("rr"))
      val qual = preQual
        .join(rep, "doc_id")
        .filter(col("rr") <= 0.2)
        .select("doc_id", "lang", "n_tokens")
      val bud = Graft.budgetCap(qual, "doc_id", "lang", "n_tokens", budget = 20000L)
        .filter(col("kept")).select("doc_id", "lang", "n_tokens")
      val mix = Graft.mixtureResample(bud, "doc_id", "lang",
        Map("en" -> 150, "de" -> 100, "fr" -> 50, "es" -> 25, "zh" -> 10))
      Graft.packSequences(
          mix.withColumn("pid", col("doc_id") * 2 + col("copy") - 1),
          "pid", "n_tokens")
        .select(col("doc_id"), col("copy"), col("lang"), col("n_tokens"),
          col("bucket"), col("bin"), col("bin_offset"))
    },

    // Systematic 1-in-20 sample: pure hash predicate, no RNG, no
    // coordination — the same rows are kept on any cluster and any rerun.
    QueryDef(
      "q_sample_systematic",
      """SELECT doc_id, lang, source FROM documents
WHERE ('0x' || substr(md5('sample:' || doc_id::VARCHAR), 1, 15))::BIGINT % 20 = 0
""".stripMargin) { (s, d) =>
      graft.api.Graft.systematicSample(documents(s, d), "doc_id", rate = 20)
        .select("doc_id", "lang", "source")
    },

    // Stratified per-class subsample: up to 20 docs per lang, chosen by
    // hash order (deterministic "random") — the class-balancing step of a
    // training-set build. One shuffle, keyed by the strata column.
    QueryDef(
      "q_sample_stratified",
      """SELECT lang, doc_id, rnk FROM (
  SELECT lang, doc_id,
    CAST(row_number() OVER (PARTITION BY lang
      ORDER BY ('0x' || substr(md5('strat:' || doc_id::VARCHAR), 1, 15))::BIGINT ASC,
               doc_id ASC) AS INT) AS rnk
  FROM documents) t
WHERE rnk <= 20
""".stripMargin) { (s, d) =>
      graft.api.Graft.stratifiedSample(documents(s, d), "doc_id", "lang",
          perClass = 20)
        .select("lang", "doc_id", "rnk")
    },

    // Reproducible 80/10/10 train/val/test split by hash bucket; emitted
    // as per-(split, lang) counts. The split of a row is a pure function
    // of its id — stable across reruns, machines, and engine versions.
    QueryDef(
      "q_split_train",
      """SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
  lang, count(*) AS n
FROM (SELECT lang, ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS b
      FROM documents) t
GROUP BY 1, 2
""".stripMargin) { (s, d) =>
      graft.api.Graft.trainValTestSplit(documents(s, d), "doc_id")
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n"))
    },

    // k-fold cross-validation assignment — the CV twin of the holdout
    // split above: every document lands in exactly one of 5 folds by
    // the same salted-hash discipline (fold = h60('fold:'||id) % 5), so
    // any of the 5 train/validate rotations is reproducible on any
    // cluster, and fold membership never changes as the corpus grows
    // (append-stable, unlike row-number striping). The report pins the
    // per-(fold, lang) document and token masses — the balance a CV
    // consumer actually checks before trusting fold variance.
    // Scale shape: one narrow hash projection + one map-side-combined
    // aggregate; no shuffle of documents.
    QueryDef(
      "q_split_kfold",
      """SELECT ('0x' || substr(md5('fold:' || doc_id::VARCHAR), 1, 15))::BIGINT % 5 AS fold,
  lang, count(*) AS n_docs,
  sum(len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')))::BIGINT AS n_tokens
FROM documents
GROUP BY 1, 2
""".stripMargin) { (s, d) =>
      documents(s, d)
        .select(
          (graft.Exact.h60(concat(lit("fold:"), col("doc_id").cast("string")))
            % 5).as("fold"),
          col("lang"),
          size(graft.api.Graft.tokens(col("text"))).as("nt"))
        .groupBy("fold", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
    },

    // Domain-mixture resampling — the data-mixing step of a training-set
    // build: per-language target rates in copies-per-100-rows (en 150 =
    // 1.5 epochs oversampled, de 100 pass-through, fr 50 half, es 25
    // quarter, zh 10 tenth). Copy counts are a pure hash of the doc id:
    // the mixture is bit-identical on any cluster, and the op is a
    // narrow generate — no shuffle at any scale.
    QueryDef(
      "q_sample_mixture",
      """SELECT doc_id, lang, CAST(unnest(range(1, n_copies + 1)) AS INT) AS copy FROM (
  SELECT doc_id, lang,
    (r // 100) + CASE WHEN ('0x' || substr(md5('mix:' || doc_id::VARCHAR), 1, 15))::BIGINT % 100 < r % 100
      THEN 1 ELSE 0 END AS n_copies
  FROM (SELECT doc_id, lang,
          CASE lang WHEN 'en' THEN 150 WHEN 'de' THEN 100 WHEN 'fr' THEN 50
                    WHEN 'es' THEN 25 WHEN 'zh' THEN 10 ELSE 0 END AS r
        FROM documents) t) c
""".stripMargin) { (s, d) =>
      graft.api.Graft.mixtureResample(documents(s, d), "doc_id", "lang",
          Map("en" -> 150, "de" -> 100, "fr" -> 50, "es" -> 25, "zh" -> 10))
        .select(col("doc_id"), col("lang"), col("copy"))
    },

    // Difficulty-ordered CURRICULUM (r11) — the training-order
    // composite: a self-trained bigram LM prices every document's
    // per-bigram cost in the quantized-log2 integers of
    // q_text_perplexity (MLE here — every bigram is observed, so
    // cost = q16(c1) - q16(c12) >= 0), the per-doc average cost (in
    // milli-q16 units, length-normalized) is summarized by the SHARDED
    // quantile sketch (grp = one global group, shard = h60(doc) % 64 —
    // exactly the plan that survives a 100 TB corpus where a global
    // ntile cannot), and the 25/50/75 read-offs cut four difficulty
    // stages. Each doc gets (stage, bucket, pos): consuming in that
    // order replays an easy-to-hard curriculum with the deterministic
    // in-stage hash shuffle of Graft.shuffleOrder.
    //
    // Scale shape: the model is two map-side-combined bigram
    // aggregates; scoring equi-joins token keys; the only whole-corpus
    // ordering artifacts are the (grp, shard)-keyed sketch window and
    // the (stage, bucket)-partitioned position window — both keyed to
    // scale out; thresholds are a broadcast 1-row read-off.
    QueryDef(
      "q_pipeline_curriculum",
      """WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS l
  FROM documents
  WHERE len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) >= 2),
bg AS MATERIALIZED (
  SELECT doc_id, u.b.w1 AS w1, u.b.w2 AS w2 FROM (
    SELECT doc_id, unnest([{'w1': l[i], 'w2': l[i+1]} for i in range(1, len(l))]) AS b FROM t) u),
c12 AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, count(*)::BIGINT AS c1 FROM bg GROUP BY 1),
cost AS (
  SELECT bg.doc_id,
    (((c1.c1 * 16) >> (length(format('{:b}', c1.c1)) - 1))
       + 16 * (length(format('{:b}', c1.c1)) - 1) - 16)
    - (((c12.c12 * 16) >> (length(format('{:b}', c12.c12)) - 1))
       + 16 * (length(format('{:b}', c12.c12)) - 1) - 16) AS cq
  FROM bg JOIN c12 ON c12.w1 = bg.w1 AND c12.w2 = bg.w2
  JOIN c1 ON c1.w1 = bg.w1),
sc AS MATERIALIZED (
  SELECT doc_id, count(*)::BIGINT AS n_bigrams, sum(cq)::BIGINT AS score_q16,
    (sum(cq)::BIGINT * 1000) // count(*) AS avgq,
    ('0x' || substr(md5('cur:' || doc_id::VARCHAR), 1, 15))::BIGINT AS hh
  FROM cost GROUP BY 1),
v AS (SELECT 'all' AS grp, avgq AS cents, hh % 64 AS shard FROM sc),
""".stripMargin +
      Sketches.ShardedSketchStagesSql +
      """m AS (SELECT grp, count(*)::BIGINT AS m FROM h6 GROUP BY grp),
rk AS (SELECT grp, v, row_number() OVER (PARTITION BY grp ORDER BY v, j) - 1 AS i FROM h6),
sel AS (
  SELECT m.grp, CAST(u.pct AS BIGINT) AS pct,
    (CAST(u.pct AS BIGINT) * (m.m - 1) + 50) // 100 AS i
  FROM m, UNNEST([25, 50, 75]) u(pct)),
est AS (SELECT sel.pct, rk.v AS est FROM sel JOIN rk USING (grp, i)),
th AS (SELECT max(CASE WHEN pct = 25 THEN est END) AS t25,
              max(CASE WHEN pct = 50 THEN est END) AS t50,
              max(CASE WHEN pct = 75 THEN est END) AS t75 FROM est),
staged AS (
  SELECT sc.doc_id, sc.n_bigrams, sc.score_q16, sc.avgq, sc.hh,
    CAST(1 + CASE WHEN sc.avgq > th.t25 THEN 1 ELSE 0 END
           + CASE WHEN sc.avgq > th.t50 THEN 1 ELSE 0 END
           + CASE WHEN sc.avgq > th.t75 THEN 1 ELSE 0 END AS INT) AS stage,
    CAST(sc.hh % 16 AS INT) AS bucket
  FROM sc, th)
SELECT doc_id, n_bigrams, score_q16, avgq, stage, bucket,
  CAST(row_number() OVER (PARTITION BY stage, bucket ORDER BY hh, doc_id) AS INT) AS pos
FROM staged
""".stripMargin) { (s, d) =>
      import graft.Exact.{h60, q16}
      val bg = graft.api.Graft.bigramPairs(documents(s, d),
          graft.api.Graft.tokens(col("text")), "doc_id")
        .localCheckpoint() // model counts AND per-doc scoring read it
      val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
      val sc = bg.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
        .select(col("doc_id"), (q16("c1") - q16("c12")).as("cq"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("cq").as("score_q16"))
        .withColumn("avgq", expr("(score_q16 * 1000) div n_bigrams"))
        .withColumn("hh", h60(concat(lit("cur:"), col("doc_id").cast("string"))))
        .localCheckpoint() // sketch input + final staging read it
      val v = sc.select(lit("all").as("grp"), col("avgq").as("cents"),
        (col("hh") % 64).as("shard"))
      val (sk0, _) = Sketches.shardedQuantileSketch(v, 64)
      val th = Sketches.quantileEstimate(sk0.localCheckpoint(), Seq(25, 50, 75))
        .agg(max(when(col("pct") === 25, col("est"))).as("t25"),
          max(when(col("pct") === 50, col("est"))).as("t50"),
          max(when(col("pct") === 75, col("est"))).as("t75"))
      sc.crossJoin(broadcast(th))
        .withColumn("stage", (lit(1)
          + when(col("avgq") > col("t25"), 1).otherwise(0)
          + when(col("avgq") > col("t50"), 1).otherwise(0)
          + when(col("avgq") > col("t75"), 1).otherwise(0)).cast("int"))
        .withColumn("bucket", (col("hh") % 16).cast("int"))
        .withColumn("pos", row_number().over(
          Window.partitionBy("stage", "bucket")
            .orderBy(col("hh"), col("doc_id"))))
        .select(col("doc_id"), col("n_bigrams"), col("score_q16"),
          col("avgq"), col("stage"), col("bucket"), col("pos"))
    },

    // Temperature-scaled mixture (r11) — the multilingual balancing
    // rule (the mT5/XLM-R alpha-sampling shape at alpha = 1/2): epoch
    // rates are DERIVED FROM THE DATA, rate_l = floor(100 *
    // sqrt(n_max) / sqrt(n_l)) percent — the largest language runs at
    // 1.0x and rarer languages upweight by the square-root ratio,
    // flattening the distribution without the fixed-rate map of
    // q_sample_mixture. sqrt and one division are IEEE operations on
    // exact integers in the identical order in both engines (the
    // correlation/autocorr discipline), and the floor lands before the
    // BIGINT cast (truncate-vs-round trap). Fractional rate remainders
    // become hash-deterministic extra copies exactly as the fixed-rate
    // mixture does.
    //
    // Scale shape: the rate table is |langs| rows from one map-side-
    // combined count — broadcast back; the corpus is scanned once and
    // never shuffled.
    QueryDef(
      "q_sample_mixture_temp",
      """WITH c AS (SELECT lang, count(*)::BIGINT AS n FROM documents GROUP BY 1),
mx AS (SELECT max(n) AS nmax FROM c),
r AS (SELECT lang, n,
    CAST(floor(100.0 * sqrt(CAST(mx.nmax AS DOUBLE)) / sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS rate
  FROM c, mx),
d AS (
  SELECT doc_id, d0.lang, r.n, r.rate,
    (r.rate // 100) + CASE WHEN ('0x' || substr(md5('temp:' || doc_id::VARCHAR), 1, 15))::BIGINT % 100 < r.rate % 100
      THEN 1 ELSE 0 END AS n_copies
  FROM documents d0 JOIN r ON r.lang = d0.lang)
SELECT doc_id, lang, n AS n_lang, rate AS rate_pct,
  CAST(unnest(range(1, n_copies + 1)) AS INT) AS copy
FROM d
""".stripMargin) { (s, d) =>
      import graft.Exact.h60
      val c = documents(s, d).groupBy("lang").agg(count(lit(1)).as("n"))
      val mx = c.agg(max("n").as("nmax"))
      val r = c.crossJoin(broadcast(mx))
        .select(col("lang"), col("n"),
          floor(lit(100.0) * sqrt(col("nmax").cast("double"))
            / sqrt(col("n").cast("double"))).cast("long").as("rate"))
      documents(s, d).join(broadcast(r), "lang")
        .withColumn("n_copies",
          expr("cast(rate div 100 as int)") +
            when(h60(concat(lit("temp:"), col("doc_id").cast("string"))) % 100
              < col("rate") % 100, 1).otherwise(0))
        .withColumn("copy",
          explode(when(col("n_copies") >= 1, sequence(lit(1), col("n_copies")))
            .otherwise(array().cast("array<int>"))))
        .select(col("doc_id"), col("lang"), col("n").as("n_lang"),
          col("rate").as("rate_pct"), col("copy"))
    },

    // Token-budget-capped mixture — the OTHER half of data mixing: each
    // domain contributes documents, in the deterministic h60 shuffle
    // order, only until its token budget fills (epoch-rate mixing says
    // HOW OFTEN a domain repeats; the budget cap says HOW MUCH of it
    // enters at all). Pure window cumsum per class — one shuffle on the
    // class key, no RNG, bit-identical on any cluster; the selection is
    // a random-looking but reproducible subset, not an id prefix.
    QueryDef(
      "q_sample_budget",
      """SELECT doc_id, lang, n_tokens, cum_before,
  cum_before + n_tokens <= 2000 AS kept
FROM (
  SELECT doc_id, lang, n_tokens,
    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang
      ORDER BY ('0x' || substr(md5('bud:' || doc_id::VARCHAR), 1, 15))::BIGINT ASC, doc_id ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
  FROM (
    SELECT doc_id, lang,
      CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '')) AS BIGINT) AS n_tokens
    FROM documents) t) c
""".stripMargin) { (s, d) =>
      graft.api.Graft.budgetCap(
        documents(s, d).select(col("doc_id"), col("lang"),
          size(graft.api.Graft.tokens(col("text"))).cast("long").as("n_tokens")),
        "doc_id", "lang", "n_tokens", budget = 2000L)
    },

    // Systematic PPS (probability-proportional-to-size) sampling — the
    // weighted rung of the sampler family: docs are picked with
    // probability proportional to their token count (one pick per 1000
    // tokens of cumulative weight), the eval-set construction that
    // weights long documents fairly. Deterministic h60 layout inside 16
    // hash buckets, integer floor-division crossing tests — no RNG, no
    // global window, bit-identical on any cluster.
    QueryDef(
      "q_sample_pps",
      """SELECT doc_id, n_tokens, bucket, cum_before,
  (cum_before + n_tokens) // 1000 > cum_before // 1000 AS picked
FROM (
  SELECT doc_id, n_tokens, bucket,
    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY bucket
      ORDER BY ok ASC, doc_id ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
  FROM (
    SELECT doc_id,
      CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '')) AS BIGINT) AS n_tokens,
      ('0x' || substr(md5('pps:' || doc_id::VARCHAR), 1, 15))::BIGINT % 16 AS bucket,
      ('0x' || substr(md5('ppso:' || doc_id::VARCHAR), 1, 15))::BIGINT AS ok
    FROM documents) t) c
""".stripMargin) { (s, d) =>
      graft.api.Graft.ppsSample(
        documents(s, d).select(col("doc_id"),
          size(graft.api.Graft.tokens(col("text"))).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", buckets = 16, step = 1000L)
    },

    // Greedy k-center diversity selection (r12) — the COVERAGE sampler:
    // pick the 8 mutually most-spread embedding vectors (Gonzalez's
    // 2-approximation; seed/eval-set selection, the complement of
    // semanticDedup's redundancy drop). Fully deterministic — md5-60
    // seed, farthest-point argmax with (dist desc, id asc) tie-break,
    // the shared CosineSim fold — so the oracle replays EVERY pick as a
    // materialized stage and the emitted covering radii are
    // bit-identical. Scale: k passes x one corpus scan against a <= k
    // broadcast center set + TakeOrdered(1) — O(n*k) cosines, never
    // pairwise. Non-increasing radius sequence property-pinned in
    // GraftApiSpec.
    QueryDef(
      "q_sample_kcenter",
      kcenterOracle(8)) { (s, d) =>
      graft.api.Graft.kcenter(
        embeddings(s, d).select(col("vec_id").as("id"), col("embedding").as("vec")),
        k = 8)
    },

    // The large-k rung (r13): the SAME greedy over a deterministic h60
    // pre-sample of m = 4*k*(ceil(log2 k)+1) rows — k rounds scan m rows
    // instead of the corpus, which is touched exactly twice (sample +
    // audit). The emitted audit_radius IS the full-corpus covering
    // radius of the sampled picks (a missed far-out cluster shows up
    // there, never silently), and the oracle replays sample, every
    // greedy round, AND the audit — so the whole approximation contract
    // is hash-gated, not just spec-pinned.
    QueryDef(
      "q_sample_kcenter_big",
      kcenterSampledOracle(k = 8, m = 128)) { (s, d) =>
      graft.api.Graft.kcenterSampled(
        embeddings(s, d).select(col("vec_id").as("id"), col("embedding").as("vec")),
        k = 8)
    },

    // Second end-to-end pipeline: the TRAINING-PREP chain (inject/redact
    // PII -> re-tokenize the redacted text -> quality floor -> next-fit
    // sequence packing). Composes q_text_pii_redact and q_text_pack
    // verbatim; everything narrow except the one per-bucket pack window.
    QueryDef(
      "q_pipeline_train_prep", {
        import graft.functions.TextAnalysis.{piiEnrichSql, piiRedactSql}
        s"""WITH red AS (
     SELECT doc_id, lang,
       ${piiRedactSql(piiEnrichSql("text", "doc_id"))} AS rt
     FROM documents),
   tok AS (
     SELECT doc_id, lang,
       CAST(len(list_filter(regexp_split_to_array(lower(rt), '\\s+'), t -> t <> '')) AS BIGINT) AS n_tokens
     FROM red),
   kept AS (SELECT * FROM tok WHERE n_tokens >= 20)
   SELECT doc_id, lang, CAST(doc_id % 16 AS INT) AS bucket, n_tokens,
     CAST(cb // 256 AS INT) AS bin, CAST(cb % 256 AS INT) AS bin_offset
   FROM (
     SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY doc_id % 16 ORDER BY doc_id ASC
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
     FROM kept) p
   """.stripMargin
      }) { (s, d) =>
      import graft.functions.TextAnalysis
      val red = documents(s, d).select(col("doc_id"), col("lang"),
        TextAnalysis.redactPii(
          TextAnalysis.injectPii(col("text"), col("doc_id"))).as("rt"))
      val kept = red
        .select(col("doc_id"), col("lang"),
          size(graft.api.Graft.tokens(col("rt"))).cast("long").as("n_tokens"))
        .filter(col("n_tokens") >= 20)
      graft.api.Graft.packSequences(kept, "doc_id", "n_tokens")
        .select("doc_id", "lang", "bucket", "n_tokens", "bin", "bin_offset")
    },

    // Deterministic global training-order shuffle: two-level (hash bucket,
    // in-bucket rank) so no task ever needs the full dataset — reading in
    // (bucket, pos) order replays the same permutation on any cluster.
    QueryDef(
      "q_sample_shuffle",
      """SELECT doc_id, bucket, CAST(pos AS INT) AS pos FROM (
  SELECT doc_id, CAST(h % 64 AS INT) AS bucket,
    row_number() OVER (PARTITION BY h % 64 ORDER BY h ASC, doc_id ASC) AS pos
  FROM (SELECT doc_id, ('0x' || substr(md5('shuf:' || doc_id::VARCHAR), 1, 15))::BIGINT AS h
        FROM documents) t) o
""".stripMargin) { (s, d) =>
      graft.api.Graft.shuffleOrder(documents(s, d), "doc_id", buckets = 64)
        .select(col("doc_id"), col("bucket"), col("pos"))
    },

    // CDC merge (upsert): apply a deterministic change batch — deletes
    // (key % 17 = 3), resegmenting updates (% 10 = 0), and copied-row
    // inserts under fresh keys (% 25 = 7) — onto the customer base via
    // graft.api.Graft.merge, the MERGE INTO shape (one full-outer
    // equi-join on the key). Keeping a continuously-refreshed corpus
    // current is the pipeline's freshness op; at 100 TB both sides
    // shuffle once on the key (full outer cannot broadcast) — with the
    // base bucketed on the key, only the change batch moves.
    QueryDef(
      "q_pipeline_upsert",
      """WITH chg AS (
  SELECT c_custkey, CAST(NULL AS VARCHAR) AS c_name, CAST(NULL AS INTEGER) AS c_nationkey,
    CAST(NULL AS DOUBLE) AS c_acctbal, CAST(NULL AS VARCHAR) AS c_mktsegment, 'D' AS op
  FROM customer WHERE c_custkey % 17 = 3
  UNION ALL
  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0, 'RESEGMENTED', 'U'
  FROM customer WHERE c_custkey % 10 = 0 AND c_custkey % 17 <> 3
  UNION ALL
  SELECT -c_custkey, c_name || ' (copy)', c_nationkey, c_acctbal, c_mktsegment, 'I'
  FROM customer WHERE c_custkey % 25 = 7)
SELECT coalesce(c.c_custkey, b.c_custkey) AS c_custkey,
  CASE WHEN c.op IN ('U', 'I') THEN c.c_name ELSE b.c_name END AS c_name,
  CASE WHEN c.op IN ('U', 'I') THEN c.c_nationkey ELSE b.c_nationkey END AS c_nationkey,
  CASE WHEN c.op IN ('U', 'I') THEN c.c_acctbal ELSE b.c_acctbal END AS c_acctbal,
  CASE WHEN c.op IN ('U', 'I') THEN c.c_mktsegment ELSE b.c_mktsegment END AS c_mktsegment,
  coalesce(c.op, '=') AS op
FROM customer b FULL OUTER JOIN chg c ON c.c_custkey = b.c_custkey
WHERE coalesce(c.op, '') <> 'D'
""".stripMargin) { (s, d) =>
      val base = customer(s, d)
      graft.api.Graft.merge(base, upsertChanges(base), "c_custkey")
    },

    // Same merge, base pre-bucketed on the key (Bucketing.writeBucketed):
    // the 100 TB shape where the corpus is written bucketed at ingest so a
    // per-batch MERGE shuffles ONLY the change batch — the base's bucket
    // layout already satisfies the join's distribution (PlanShapeSpec
    // asserts zero Exchange on the base side). Results are identical to
    // q_pipeline_upsert (layout never changes semantics), so the oracle is
    // the same SQL. Timed (r13): the number includes the one-off bucketed
    // ingest — honest, since a user adopting this shape pays it once at
    // ingest and the delta vs q_pipeline_upsert prices exactly that.
    QueryDef(
      "q_pipeline_upsert_bucketed",
      """WITH chg AS (
  SELECT c_custkey, CAST(NULL AS VARCHAR) AS c_name, CAST(NULL AS INTEGER) AS c_nationkey,
    CAST(NULL AS DOUBLE) AS c_acctbal, CAST(NULL AS VARCHAR) AS c_mktsegment, 'D' AS op
  FROM customer WHERE c_custkey % 17 = 3
  UNION ALL
  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0, 'RESEGMENTED', 'U'
  FROM customer WHERE c_custkey % 10 = 0 AND c_custkey % 17 <> 3
  UNION ALL
  SELECT -c_custkey, c_name || ' (copy)', c_nationkey, c_acctbal, c_mktsegment, 'I'
  FROM customer WHERE c_custkey % 25 = 7)
SELECT coalesce(c.c_custkey, b.c_custkey) AS c_custkey,
  CASE WHEN c.op IN ('U', 'I') THEN c.c_name ELSE b.c_name END AS c_name,
  CASE WHEN c.op IN ('U', 'I') THEN c.c_nationkey ELSE b.c_nationkey END AS c_nationkey,
  CASE WHEN c.op IN ('U', 'I') THEN c.c_acctbal ELSE b.c_acctbal END AS c_acctbal,
  CASE WHEN c.op IN ('U', 'I') THEN c.c_mktsegment ELSE b.c_mktsegment END AS c_mktsegment,
  coalesce(c.op, '=') AS op
FROM customer b FULL OUTER JOIN chg c ON c.c_custkey = b.c_custkey
WHERE coalesce(c.op, '') <> 'D'
""".stripMargin) { (s, d) =>
      val plain = customer(s, d)
      // per-session table name: concurrent bench + verify sessions share
      // one warehouse dir and must not race the same bucketed table
      val tbl = "customer_mergebase_" +
        s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      Bucketing.writeBucketed(plain, tbl, "c_custkey", buckets = 8)
      // change batch derives from the PLAIN parquet base (narrow scans);
      // only the merge's base side reads the bucketed layout
      graft.api.Graft.merge(s.table(tbl), upsertChanges(plain), "c_custkey")
    },

    // SCD Type-2 apply: the same deterministic CDC batch folded as
    // HISTORY rather than fixpoint — updates/deletes close the current
    // row at version 1 (valid_to set, is_current dropped), updates and
    // inserts open a new current row, deletes leave no successor. Full
    // lineage survives, which is what the upsert queries deliberately
    // discard. One semi + one anti join on the key split the current
    // slice; the base payload never shuffles. Timed since r13 (the r12
    // verdict asked every exclusion to be recorded or removed).
    QueryDef(
      "q_pipeline_scd2",
      """WITH chg AS (
  SELECT c_custkey, CAST(NULL AS VARCHAR) AS c_name,
    CAST(NULL AS DOUBLE) AS c_acctbal, CAST(NULL AS VARCHAR) AS c_mktsegment, 'D' AS op
  FROM customer WHERE c_custkey % 17 = 3
  UNION ALL
  SELECT c_custkey, c_name, c_acctbal + 100.0, 'RESEGMENTED', 'U'
  FROM customer WHERE c_custkey % 10 = 0 AND c_custkey % 17 <> 3
  UNION ALL
  SELECT -c_custkey, c_name || ' (copy)', c_acctbal, c_mktsegment, 'I'
  FROM customer WHERE c_custkey % 25 = 7)
SELECT b.c_custkey, b.c_name, b.c_acctbal, b.c_mktsegment,
  0::BIGINT AS valid_from,
  CASE WHEN c.c_custkey IS NULL THEN CAST(NULL AS BIGINT) ELSE 1::BIGINT END AS valid_to,
  c.c_custkey IS NULL AS is_current
FROM customer b LEFT JOIN chg c ON c.c_custkey = b.c_custkey
UNION ALL
SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
  1::BIGINT AS valid_from, CAST(NULL AS BIGINT) AS valid_to, TRUE AS is_current
FROM chg WHERE op <> 'D'
""".stripMargin,
      ) { (s, d) =>
      val cust = customer(s, d)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      graft.api.Graft.scdApply(scd2Base(cust), scd2Batch1(cust),
        "c_custkey", version = 1L)
    },

    // The read half of the SCD2 pair: apply TWO batches (versions 1 and
    // 2), then reconstruct the table as it stood at version 1 — rows
    // whose validity interval covers the version, i.e. including rows
    // batch 2 has since closed, excluding rows batch 1 closed or batch 2
    // opened. The mid-chain read is exactly what MERGE cannot answer
    // (its fixpoint discards superseded states); RelationalSpec pins the
    // complementary invariant that the as-of read AT the latest version
    // equals the MERGE fixpoint. Narrow filter over the history scan —
    // at 100 TB the interval predicate prunes a valid_from-partitioned
    // layout. Timed since r13, same class as q_pipeline_scd2.
    QueryDef(
      "q_pipeline_scd2_asof",
      """WITH chg AS (
  SELECT c_custkey, CAST(NULL AS VARCHAR) AS c_name,
    CAST(NULL AS DOUBLE) AS c_acctbal, CAST(NULL AS VARCHAR) AS c_mktsegment, 'D' AS op
  FROM customer WHERE c_custkey % 17 = 3
  UNION ALL
  SELECT c_custkey, c_name, c_acctbal + 100.0, 'RESEGMENTED', 'U'
  FROM customer WHERE c_custkey % 10 = 0 AND c_custkey % 17 <> 3
  UNION ALL
  SELECT -c_custkey, c_name || ' (copy)', c_acctbal, c_mktsegment, 'I'
  FROM customer WHERE c_custkey % 25 = 7),
h1 AS (
  SELECT b.c_custkey, b.c_name, b.c_acctbal, b.c_mktsegment,
    0::BIGINT AS valid_from,
    CASE WHEN c.c_custkey IS NULL THEN CAST(NULL AS BIGINT) ELSE 1::BIGINT END AS valid_to,
    c.c_custkey IS NULL AS is_current
  FROM customer b LEFT JOIN chg c ON c.c_custkey = b.c_custkey
  UNION ALL
  SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
    1::BIGINT, CAST(NULL AS BIGINT), TRUE
  FROM chg WHERE op <> 'D'),
chg2 AS (
  SELECT c_custkey, c_name, c_acctbal + 107.5 AS c_acctbal,
    'ROUND2' AS c_mktsegment, 'U' AS op
  FROM customer WHERE c_custkey % 4 = 2),
h2 AS (
  SELECT h.c_custkey, h.c_name, h.c_acctbal, h.c_mktsegment, h.valid_from,
    CASE WHEN h.is_current AND c2.c_custkey IS NOT NULL THEN 2::BIGINT
         ELSE h.valid_to END AS valid_to,
    h.is_current AND c2.c_custkey IS NULL AS is_current
  FROM h1 h LEFT JOIN chg2 c2 ON h.c_custkey = c2.c_custkey
  UNION ALL
  SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
    2::BIGINT, CAST(NULL AS BIGINT), TRUE
  FROM chg2)
SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
  valid_from, valid_to, is_current
FROM h2
WHERE valid_from <= 1 AND (valid_to IS NULL OR valid_to > 1)
""".stripMargin,
      ) { (s, d) =>
      val cust = customer(s, d)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      val b2 = cust.filter(col("c_custkey") % 4 === 2)
        .select(col("c_custkey"), col("c_name"),
          (col("c_acctbal") + 107.5).as("c_acctbal"),
          lit("ROUND2").as("c_mktsegment"), lit("U").as("op"))
      val history = graft.api.Graft.scdApply(
        graft.api.Graft.scdApply(scd2Base(cust), scd2Batch1(cust),
          "c_custkey", version = 1L),
        b2, "c_custkey", version = 2L)
      graft.api.Graft.scdAsOf(history, 1L)
    },

    // Temporal join over SCD2 history — the warehouse enrichment the
    // lineage exists FOR: every order joined to the customer version
    // valid at the order's own version stamp (o_orderkey % 3 spreads
    // facts across the three history epochs). One equi join on the
    // natural key with the interval test as a residual predicate (per-
    // key history is a few disjoint versions — never a range blow-up);
    // facts whose key had no valid version (pre-insert or deleted)
    // surface with NULL segment rather than vanishing. Rolled up per
    // (epoch, segment) so the hash pins both the version routing and
    // the orphan handling. Timed since r13, same class as
    // q_pipeline_scd2/scd2_asof.
    QueryDef(
      "q_pipeline_scd2_temporal",
      """WITH chg AS (
  SELECT c_custkey, CAST(NULL AS VARCHAR) AS c_name,
    CAST(NULL AS DOUBLE) AS c_acctbal, CAST(NULL AS VARCHAR) AS c_mktsegment, 'D' AS op
  FROM customer WHERE c_custkey % 17 = 3
  UNION ALL
  SELECT c_custkey, c_name, c_acctbal + 100.0, 'RESEGMENTED', 'U'
  FROM customer WHERE c_custkey % 10 = 0 AND c_custkey % 17 <> 3
  UNION ALL
  SELECT -c_custkey, c_name || ' (copy)', c_acctbal, c_mktsegment, 'I'
  FROM customer WHERE c_custkey % 25 = 7),
h1 AS (
  SELECT b.c_custkey, b.c_name, b.c_acctbal, b.c_mktsegment,
    0::BIGINT AS valid_from,
    CASE WHEN c.c_custkey IS NULL THEN CAST(NULL AS BIGINT) ELSE 1::BIGINT END AS valid_to,
    c.c_custkey IS NULL AS is_current
  FROM customer b LEFT JOIN chg c ON c.c_custkey = b.c_custkey
  UNION ALL
  SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
    1::BIGINT, CAST(NULL AS BIGINT), TRUE
  FROM chg WHERE op <> 'D'),
chg2 AS (
  SELECT c_custkey, c_name, c_acctbal + 107.5 AS c_acctbal,
    'ROUND2' AS c_mktsegment, 'U' AS op
  FROM customer WHERE c_custkey % 4 = 2),
h2 AS (
  SELECT h.c_custkey, h.c_name, h.c_acctbal, h.c_mktsegment, h.valid_from,
    CASE WHEN h.is_current AND c2.c_custkey IS NOT NULL THEN 2::BIGINT
         ELSE h.valid_to END AS valid_to,
    h.is_current AND c2.c_custkey IS NULL AS is_current
  FROM h1 h LEFT JOIN chg2 c2 ON h.c_custkey = c2.c_custkey
  UNION ALL
  SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
    2::BIGINT, CAST(NULL AS BIGINT), TRUE
  FROM chg2),
f AS (SELECT o_orderkey, o_custkey, o_orderkey % 3 AS as_of_v FROM orders),
j AS (
  SELECT f.as_of_v, h.c_mktsegment
  FROM f LEFT JOIN h2 h ON h.c_custkey = f.o_custkey
    AND h.valid_from <= f.as_of_v
    AND (h.valid_to IS NULL OR h.valid_to > f.as_of_v))
SELECT as_of_v, c_mktsegment, count(*) AS n_orders
FROM j GROUP BY 1, 2
""".stripMargin,
      ) { (s, d) =>
      val cust = customer(s, d)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      val b2 = cust.filter(col("c_custkey") % 4 === 2)
        .select(col("c_custkey"), col("c_name"),
          (col("c_acctbal") + 107.5).as("c_acctbal"),
          lit("ROUND2").as("c_mktsegment"), lit("U").as("op"))
      val history = graft.api.Graft.scdApply(
        graft.api.Graft.scdApply(scd2Base(cust), scd2Batch1(cust),
          "c_custkey", version = 1L),
        b2, "c_custkey", version = 2L)
      val facts = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        (col("o_orderkey") % 3).as("as_of_v"))
      graft.api.Graft.temporalJoin(facts, "o_custkey", "as_of_v",
          history.select("c_custkey", "c_mktsegment", "valid_from", "valid_to"),
          "c_custkey")
        .groupBy("as_of_v", "c_mktsegment")
        .agg(count(lit(1)).as("n_orders"))
    },

    // Anti-entropy table reconciliation (the Merkle/Cassandra repair
    // shape): two replicas of a table are compared by exchanging
    // PER-BUCKET digests — count + bit_xor of a row hash — and only the
    // buckets whose summaries disagree are re-scanned at row grain. At
    // 100 TB the replicas ship B constant-size summary rows instead of
    // the table, and the drill-down joins touch only flagged buckets'
    // rows (a semi join against the broadcast flagged set). Divergence
    // is PLANTED (inject-then-detect, the repo precedent): the replica
    // drops every 997th key and flips every 991st key's priority, and
    // the report must name exactly those keys with the right verdicts.
    // bit_xor is order-free and self-inverse, so bucket summaries are
    // partitioning-invariant and a matching pair cancels exactly.
    QueryDef(
      "q_pipeline_tablediff",
      """WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_orderpriority,
    o_orderkey // 64 AS bkt,
    ('0x' || substr(md5('td:' || o_orderkey::VARCHAR || '|' || o_orderstatus || '|' || o_orderpriority), 1, 15))::BIGINT AS dg
  FROM orders),
replica AS (
  SELECT o_orderkey, o_orderstatus,
    CASE WHEN o_orderkey % 991 = 0 THEN 'X-MOD' ELSE o_orderpriority END AS o_orderpriority,
    o_orderkey // 64 AS bkt,
    ('0x' || substr(md5('td:' || o_orderkey::VARCHAR || '|' || o_orderstatus || '|' ||
      CASE WHEN o_orderkey % 991 = 0 THEN 'X-MOD' ELSE o_orderpriority END), 1, 15))::BIGINT AS dg
  FROM orders WHERE o_orderkey % 997 <> 0),
sb AS (SELECT bkt, count(*)::BIGINT AS n, bit_xor(dg) AS x FROM base GROUP BY bkt),
sr AS (SELECT bkt, count(*)::BIGINT AS n, bit_xor(dg) AS x FROM replica GROUP BY bkt),
flagged AS (
  SELECT coalesce(sb.bkt, sr.bkt) AS bkt
  FROM sb FULL OUTER JOIN sr ON sb.bkt = sr.bkt
  WHERE sb.n IS DISTINCT FROM sr.n OR sb.x IS DISTINCT FROM sr.x)
SELECT b.o_orderkey,
  CASE WHEN r.o_orderkey IS NULL THEN 'missing_in_replica'
       ELSE 'modified' END AS status
FROM base b
JOIN flagged f ON b.bkt = f.bkt
LEFT JOIN replica r ON r.o_orderkey = b.o_orderkey
WHERE r.o_orderkey IS NULL OR r.dg <> b.dg
""".stripMargin) { (s, d) =>
      import graft.Exact.h60
      def digest(pri: org.apache.spark.sql.Column) =
        h60(concat(lit("td:"), col("o_orderkey").cast("string"), lit("|"),
          col("o_orderstatus"), lit("|"), pri))
      val base = orders(s, d)
        .select(col("o_orderkey"), expr("o_orderkey div 64").as("bkt"),
          digest(col("o_orderpriority")).as("dg"))
      val replica = orders(s, d)
        .filter(col("o_orderkey") % 997 =!= 0)
        .select(col("o_orderkey"), expr("o_orderkey div 64").as("bkt"),
          digest(when(col("o_orderkey") % 991 === 0, lit("X-MOD"))
            .otherwise(col("o_orderpriority"))).as("dg"))
      def summary(t: org.apache.spark.sql.DataFrame) = t.groupBy("bkt")
        .agg(count(lit(1)).as("n"), expr("bit_xor(dg)").as("x"))
      val flagged = summary(base).withColumnRenamed("n", "nb")
        .withColumnRenamed("x", "xb")
        .join(summary(replica).withColumnRenamed("n", "nr")
          .withColumnRenamed("x", "xr"), Seq("bkt"), "full_outer")
        .filter(!(col("nb") <=> col("nr")) || !(col("xb") <=> col("xr")))
        .select("bkt")
      // drill-down: only flagged buckets' rows re-enter at row grain
      base.join(broadcast(flagged), Seq("bkt"))
        .join(replica.select(col("o_orderkey"),
          col("dg").as("dg_r")), Seq("o_orderkey"), "left")
        .filter(col("dg_r").isNull || col("dg_r") =!= col("dg"))
        .select(col("o_orderkey"),
          when(col("dg_r").isNull, "missing_in_replica")
            .otherwise("modified").as("status"))
    }
  )

  /** version-0 SCD2 history seed: every customer row open and current */
  private[graft] def scd2Base(
      cust: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    cust.withColumn("valid_from", lit(0L))
      .withColumn("valid_to", lit(null).cast("long"))
      .withColumn("is_current", lit(true))

  /** the deterministic version-1 SCD2 change batch (4-column payload
    * twin of [[upsertChanges]]): deletes (key % 17 = 3), resegmenting
    * updates (% 10 = 0), copied-row inserts under negative keys
    * (% 25 = 7) — one change row per key by construction. */
  private[graft] def scd2Batch1(
      cust: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val k = col("c_custkey")
    val del = cust.filter(k % 17 === 3).select(k.as("c_custkey"),
      lit(null).cast("string").as("c_name"),
      lit(null).cast("double").as("c_acctbal"),
      lit(null).cast("string").as("c_mktsegment"), lit("D").as("op"))
    val upd = cust.filter(k % 10 === 0 && k % 17 =!= 3)
      .select(k.as("c_custkey"), col("c_name"),
        (col("c_acctbal") + 100.0).as("c_acctbal"),
        lit("RESEGMENTED").as("c_mktsegment"), lit("U").as("op"))
    val ins = cust.filter(k % 25 === 7)
      .select((-k).as("c_custkey"),
        concat(col("c_name"), lit(" (copy)")).as("c_name"),
        col("c_acctbal"), col("c_mktsegment"), lit("I").as("op"))
    del.unionByName(upd).unionByName(ins)
  }

  /** The deterministic CDC change batch both upsert queries apply: deletes
    * (key % 17 = 3), resegmenting updates (% 10 = 0), copied-row inserts
    * under fresh keys (% 25 = 7). */
  private def upsertChanges(
      base: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val k = col("c_custkey")
    val del = base.filter(k % 17 === 3).select(k.as("c_custkey"),
      lit(null).cast("string").as("c_name"), lit(null).cast("int").as("c_nationkey"),
      lit(null).cast("double").as("c_acctbal"), lit(null).cast("string").as("c_mktsegment"),
      lit("D").as("op"))
    val upd = base.filter(k % 10 === 0 && k % 17 =!= 3).select(k.as("c_custkey"),
      col("c_name"), col("c_nationkey"), (col("c_acctbal") + 100.0).as("c_acctbal"),
      lit("RESEGMENTED").as("c_mktsegment"), lit("U").as("op"))
    // fresh keys from the NEGATIVE key space: base keys are >= 1 at any
    // SF, so -k can never collide with an existing or changed key
    // (k + 1000000 collides once custkey exceeds 1M, i.e. SF >= ~7)
    val ins = base.filter(k % 25 === 7).select((-k).as("c_custkey"),
      concat(col("c_name"), lit(" (copy)")).as("c_name"), col("c_nationkey"),
      col("c_acctbal"), col("c_mktsegment"), lit("I").as("op"))
    del.union(upd).union(ins)
  }

  /** DuckDB replay of [[graft.api.Graft.kcenter]]: the md5-60 seed, then
    * every greedy pick as a MATERIALIZED stage — per-point nearest-center
    * distance (1 - max cosine, the exact list_reduce fold CosineSim
    * matches bit-for-bit), farthest-point argmax with (mind DESC, id ASC),
    * centers accumulated by UNION ALL. */
  /** the shared cosine fold of the k-center oracles, over row aliases
    * `a`/`b` — the exact IEEE sequence of the engine's CosineSim */
  private def kcCos(a: String, b: String): String =
    s"""(list_reduce([$a.v[i+1] * $b.v[i+1] for i in range(0, len($a.v))], (acc, x) -> acc + x)
      / (sqrt(list_reduce([x * x for x in $a.v], (acc, y) -> acc + y))
         * sqrt(list_reduce([x * x for x in $b.v], (acc, y) -> acc + y))))""".stripMargin

  /** the greedy-pick stage replay over a CTE `e(id, v)` already in
    * scope: seed cs1 by min h60('kc:'||id), then k-1 materialized
    * (scan, argmax, union) rounds — leaves cs$k defined, ends WITHOUT a
    * trailing comma */
  private def kcenterStages(k: Int): String = {
    def round(t: Int): String =
      s"""m$t AS (
   SELECT e.id, 1.0 - max(${kcCos("e", "c")}) AS mind
   FROM e CROSS JOIN cs${t - 1} c GROUP BY e.id),
 n$t AS MATERIALIZED (
   SELECT e.id, e.v, $t AS pick, m.mind
   FROM e JOIN m$t m ON m.id = e.id
   WHERE e.id NOT IN (SELECT id FROM cs${t - 1})
   ORDER BY m.mind DESC, e.id ASC LIMIT 1),
 cs$t AS (SELECT * FROM cs${t - 1} UNION ALL SELECT * FROM n$t)""".stripMargin
    s"""cs1 AS MATERIALIZED (
       |  SELECT id, v, 1 AS pick, NULL::DOUBLE AS mind FROM e
       |  ORDER BY ('0x' || substr(md5('kc:' || id::VARCHAR), 1, 15))::BIGINT ASC, id ASC
       |  LIMIT 1),
       |""".stripMargin +
      (2 to k).map(round).mkString(",\n")
  }

  /** DuckDB replay of [[graft.api.Graft.kcenter]]: the md5-60 seed, then
    * k-1 materialized greedy rounds over the full table. */
  private def kcenterOracle(k: Int): String =
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |""".stripMargin +
      kcenterStages(k) + "\n" +
      s"SELECT pick, id, mind FROM cs$k\n"

  /** DuckDB replay of [[graft.api.Graft.kcenterSampled]]: `e` becomes
    * the h60('kcs:')-ordered m-row pre-sample, the SAME greedy stages
    * run over it, and the audit CTE recomputes the full-corpus covering
    * radius of the picks — every stage and the audited double
    * bit-identical to the engine. */
  private def kcenterSampledOracle(k: Int, m: Int): String =
    s"""WITH eall AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |e AS MATERIALIZED (
       |  SELECT id, v FROM eall
       |  ORDER BY ('0x' || substr(md5('kcs:' || id::VARCHAR), 1, 15))::BIGINT ASC, id ASC
       |  LIMIT $m),
       |""".stripMargin +
      kcenterStages(k) + ",\n" +
      s"""aud AS (
         |  SELECT max(mind) AS audit_radius FROM (
         |    SELECT a.id, 1.0 - max(${kcCos("a", "c")}) AS mind
         |    FROM eall a CROSS JOIN cs$k c GROUP BY a.id) t)
         |SELECT pick, id, mind, audit_radius FROM cs$k, aud
         |""".stripMargin
}
