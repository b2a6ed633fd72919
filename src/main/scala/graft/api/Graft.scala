package graft.api

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graftbridge.Bridge
import graft.Exact.h60
import graft.functions.MinHashSig.minhash
import graft.functions.{TokenSplit, TokenWindows}
import graft.functions.VectorFunctions.cosine

/** The engine's user-facing library surface: every pipeline operator as a
  * composable `DataFrame => DataFrame` function with explicit column
  * parameters — what a user of the reference system calls instead of its
  * job-name registry (`app_route.py:4-6`). The `SparkEntry.queries`
  * entries are thin bindings of these onto the driver's fixture tables.
  *
  * Conventions:
  *  - `id` must be a unique long column; pair outputs emit `i < j`.
  *  - tokenization = lower + whitespace split ([[tokens]], the one
  *    tokenizer), the reference's `datanode.py:598-603` semantics; every
  *    n-gram window is cut by [[ngrams]].
  *  - all hashing is the portable md5-60 family (graft.Exact.h60) —
  *    deterministic on any cluster, reproducible across engines.
  */
object Graft {

  /** localCheckpoint for ITERATED frames: eager checkpoint + a
    * statistics CLAMP. A checkpointed LogicalRDD carries its origin
    * plan's ESTIMATED sizeInBytes forward; when a loop's round-r frame
    * references the round-(r-1) frame several times (label joins, Q
    * gates), those estimates compound multiplicatively — the exponent
    * doubles-or-worse per round, and past ~10 rounds the driver spends
    * minutes multiplying million-bit BigInts inside every stats visit
    * (measured: communityMerge rounds=12 wedged; clamped it is
    * seconds, see Bridge.statsClamp — small frames keep their real
    * estimates, so fixture-size auto-broadcasts are untouched). Linear
    * loops (pagerank's one self-reference per round) don't need this;
    * any loop that joins a frame against itself or threads it through
    * 2+ joins per round does. */
  private def ck(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftbridge.Bridge.statsClamp(df.localCheckpoint())

  private implicit class LoopCheckpoint(private val df: DataFrame) {
    /** `.localCheckpoint()` drop-in for the compounding loops above */
    def loopCheckpoint(): DataFrame = ck(df)
  }

  /** lower-cased whitespace tokens, empties dropped — the engine's one
    * tokenizer: Spark's own `lower`, then the native [[TokenSplit]] byte
    * scan, which cuts at runs of `[ \t\n\x0B\f\r]` (Java's `\s`) exactly
    * as `array_remove(split(lower(c), "\\s+"), "")` does. A token never
    * holds a space, which [[ngrams]] relies on. */
  def tokens(c: Column): Column =
    Bridge.column(TokenSplit(Bridge.expression(lower(c))))

  /** Every overlapping window of `n` consecutive tokens of the token
    * array `toks`, in order, each joined by single spaces — the engine's
    * one n-gram window builder: the tokens joined by single spaces
    * (nulls skipped), then one native [[TokenWindows]] byte scan, which
    * emits exactly what the regex
    * `(?:^| )(?=([^ ]+(?: [^ ]+){n-1}))` captures (its Scaladoc states
    * the contract for empty tokens and tokens that hold a space).
    * Fewer than `n` tokens (or a null array) give no window, so callers
    * need no `size(toks) >= n` guard. */
  def ngrams(toks: Column, n: Int): Column =
    Bridge.column(TokenWindows(Bridge.expression(concat_ws(" ", toks)), n))

  /** one `(keep..., w1, w2)` row per adjacent token pair of the token
    * array `toks` — the engine's one bigram builder: the width-2
    * [[ngrams]] split back at their one space */
  def bigramPairs(df: DataFrame, toks: Column, keep: String*): DataFrame =
    df.select(keep.map(col) :+ explode(ngrams(toks, 2)).as("bg"): _*)
      .select(keep.map(col) ++ Seq(substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2")): _*)

  /** RE2-safe content-filter patterns — ONE definition feeds the Spark
    * predicates AND (interpolated) the DuckDB oracles of every query
    * that filters content (q_text_filter, q_pipeline_curate). */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
  val UrlRe = "https?://"

  /** 1 when the text has neither an email- nor a url-shaped span */
  def cleanFlag(text: Column): Column =
    (!(lower(text).rlike(EmailRe) || lower(text).rlike(UrlRe))).cast("int")

  /** md5 digest of the whitespace-normalized token stream — the content
    * identity used by fingerprinting, decontamination, and the curation
    * pipeline's keep-first dedup. */
  def contentFp(text: Column): Column =
    md5(concat_ws(" ", tokens(text)))

  /** per-doc repetition stats: most-frequent-token count and its share
    * of all tokens (the boilerplate/spam signal) */
  def repetitionRatio(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max(col("c")).as("top_tok"),
        (max(col("c")).cast("double") / sum(col("c"))).as("rep_ratio"))

  // ---- parity --------------------------------------------------------

  /** WordCount — the reference's registered app (`app.py:6-14`). */
  def wordCount(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  // ---- dedup family --------------------------------------------------

  /** Exact dedup on the content digest of the normalized token stream:
    * keep-first (min id) per fingerprint. Shuffles 16-byte digests, never
    * documents. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
        sha2(concat_ws(" ", tokens(col(textCol))), 256).as("fp"))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** distinct word n-gram shingles per doc (docs with < n tokens drop).
    * `dedup = false` skips the per-(doc, shingle) distinct — the right
    * call when the consumer only tests EXISTENCE (a semi join, an
    * any-shared drop rule) and the distinct's full shuffle of the
    * shingle relation would be pure cost. */
  def shingleSet(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, dedup: Boolean = true): DataFrame = {
    val raw = docs.select(col(idCol).as("doc_id"),
      explode(ngrams(tokens(col(textCol)), n)).as("shingle"))
    if (dedup) raw.distinct() else raw
  }

  /** distinct word 3-gram shingle ARRAYS per doc: one `(doc_id,
    * shingles)` row per distinct id (docs with < 3 tokens drop) — the
    * per-document relation the MinHash kernel reads. Shingles stay in
    * the row: no explode, no per-(doc, shingle) distinct. An id spread
    * over several rows is merged by ONE groupBy over those rows (union
    * of their arrays), so the set is exactly the oracle's `DISTINCT
    * doc_id, shingle` whatever the input's id discipline.
    *
    * The merge's doc_id exchange runs BEFORE the shingling, so it both
    * fans the CPU-bound map side out over every shuffle partition (a
    * single-row-group file is otherwise one scan task) and leaves the
    * merge partition-local: one exchange, and it carries text rather
    * than the ~3x larger shingle arrays. Its partition count is fixed
    * at `spark.sql.shuffle.partitions`: a by-column repartition of a
    * few MB is one AQE would coalesce back into a single task.
    *
    * The windows are the width-3 [[ngrams]] of the text's [[tokens]] —
    * the same strings [[shingleSet]] explodes. A doc with fewer than 3
    * tokens has no window, so dropping empty arrays is the
    * `size(tokens) >= 3` filter. */
  def shingleArrays(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val parts = docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // the empty-array filter sits ABOVE the merge: below it, the
    // optimizer would push the whole shingling under the exchange, into the
    // scan, and evaluate it twice
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .repartition(parts, col("doc_id"))
      .select(col("doc_id"), ngrams(tokens(col("text")), 3).as("shingles"))
      .groupBy("doc_id")
      .agg(array_distinct(flatten(collect_list(col("shingles")))).as("shingles"))
      .filter(size(col("shingles")) > 0)
  }

  /** MinHash LSH band keys from the per-document [[shingleArrays]]
    * relation: `bands` rows per doc of `(doc_id, band, bandkey)`, where
    * bandkey is the md5 of that band's signature slice and the signature
    * is the native row-local [[graft.functions.MinHashSig]] kernel. Two
    * docs sharing any (band, bandkey) are LSH candidates. This is the
    * shared index kernel: [[minhashPairs]] self-joins the same keys for
    * offline dedup; ingest-time filters build it ONCE over the corpus and
    * semi-join each arriving batch against it. Portable md5-60 hashes —
    * an oracle can restate every value exactly. */
  def minhashBandKeys(docs: DataFrame, numHashes: Int = 16,
      bands: Int = 4): DataFrame =
    // posexplode the key EXPRESSION, not a `keys` column: over a column
    // the optimizer infers `size(keys) > 0` and pushes it down through
    // the projections, inlining the signature into that filter once per
    // band-key element (17 MinHashSig calls per doc; q_stream_neardup
    // ran 2x slower)
    docs.withColumn("sig", minhash(col("shingles"), numHashes))
      .select(col("doc_id"),
        posexplode(bandKeys(col("sig"), numHashes, bands)).as(Seq("band", "bandkey")))

  /** the `bands` band keys of signature `sig`: md5 of each band's slice */
  private def bandKeys(sig: Column, numHashes: Int, bands: Int): Column = {
    val rows = numHashes / bands
    require(bands * rows == numHashes, "bands must divide numHashes")
    array((0 until bands).map(bIdx =>
      md5(concat_ws(",", (0 until rows).map(r =>
        element_at(sig, bIdx * rows + r + 1).cast("string")): _*))): _*)
  }

  /** Exact n-gram Jaccard pairs >= `threshold` via the inverted shingle
    * index over `sh` (doc_id, shingle, and the `block` columns):
    * candidates share >= 1 shingle and every blocking key, so there is
    * no all-pairs product, and blocking keys (language, length band)
    * split the hot shingles' posting lists. `sh` is read three times;
    * pass it materialized. */
  def jaccardPairs(sh: DataFrame, threshold: Double, block: Seq[String]): DataFrame = {
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val a = sh.select((col("doc_id").as("i") +: block.map(col)) :+ col("shingle"): _*)
    val b = sh.select((col("doc_id").as("j") +: block.map(c => col(c).as(c + "_b"))) :+
      col("shingle").as("shingle_b"): _*)
    val on = block.foldLeft(col("shingle") === col("shingle_b"))((p, c) =>
      p && col(c) === col(c + "_b"))
    a.join(b, on && col("i") < col("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("inter"))
      .join(cnt.withColumnRenamed("doc_id", "i").withColumnRenamed("c", "ca"), "i")
      .join(cnt.withColumnRenamed("doc_id", "j").withColumnRenamed("c", "cb"), "j")
      .withColumn("jac", col("inter").cast("double") / (col("ca") + col("cb") - col("inter")))
      .filter(col("jac") >= threshold)
      .select("i", "j", "jac")
  }

  /** MinHash signatures (Kirsch-Mitzenmacher from one md5 per shingle) +
    * LSH band buckets + exact-Jaccard verification of candidates, all
    * over the per-document [[shingleArrays]] relation.
    *
    * Formulation note: everything up to the candidate join is
    * ROW-LOCAL — each doc's shingle array and its signature (the native
    * [[graft.functions.MinHashSig]] kernel, one md5 per shingle) are
    * computed inside the row. The earlier shape exploded one row per
    * shingle, distincted `(doc_id, shingle)` and regrouped on doc_id to
    * min-aggregate the signatures; an all-in-row variant built from
    * higher-order functions lost to it 8.4 s vs 1.4 s (r7: interpreted
    * lambdas re-evaluating the md5 per hash), but the native kernel has
    * no lambdas, and the shingle windows are cut by one native byte scan
    * rather than a lambda. Measured on the 8,000-doc stretch16 corpus
    * (perfbench `corpus`, 4 cores, 10 alternating pairs) against the
    * exploded shape: 2.81 -> 0.90 s median per q_dedup_minhash, 8 -> 7
    * jobs, 27 -> 20 tasks, 20.8 -> 1.5 MB of shuffle, the same 432 rows. */
  def minhashPairs(docsRaw: DataFrame, threshold: Double,
      numHashes: Int = 16, bands: Int = 4): DataFrame = {
    // The per-doc arrays feed TWO branches (band keys and the verify
    // intersection); without materialization each branch re-scans and
    // re-tokenizes the corpus. The band keys are computed before the
    // checkpoint, in the same parallel pass as the shingles, so each
    // signature is hashed once rather than on both sides of the band
    // self-join. localCheckpoint also truncates lineage, so the verify
    // join's plan stays shallow.
    val docs = docsRaw.select(col("doc_id"), col("shingles"),
        minhash(col("shingles"), numHashes).as("sig"))
      .withColumn("keys", bandKeys(col("sig"), numHashes, bands))
      .drop("sig")
      .localCheckpoint()
    val banded = docs.select(col("doc_id"),
      posexplode(col("keys")).as(Seq("band", "bandkey")))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bandkey") === col("y.bandkey")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"))
      .distinct()
    // Exact-Jaccard verify on the candidates: the intersection is
    // computed IN-ROW with array_intersect over the same per-doc arrays,
    // so the only post-candidate shuffles carry the candidate list
    // itself. The arrays are distinct per doc, so size(array_intersect)
    // is exactly |A ∩ B|.
    def side(id: String, sh: String, c: String): DataFrame =
      docs.select(col("doc_id").as(id), col("shingles").as(sh),
        size(col("shingles")).cast("long").as(c))
    cand
      .join(side("i", "sa", "ca"), "i")
      .join(side("j", "sb", "cb"), "j")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jac", col("inter").cast("double") / (col("ca") + col("cb") - col("inter")))
      .filter(col("jac") >= threshold)
      .select("i", "j", "jac")
  }

  /** Asymmetric shingle containment C = |A ∩ B| / min(|A|, |B|):
    * detects a document CONTAINED in a larger one (a quoted post, an
    * excerpt page, a boilerplate superset) — the dedup mode symmetric
    * Jaccard structurally misses: a 40-shingle doc wholly inside a
    * 400-shingle doc has jac ≈ 0.1 but containment 1.0, and no
    * Jaccard threshold separates those pairs from noise.
    *
    * Candidates come from a RARE-SHINGLE inverted index: only
    * shingles with document frequency <= maxDf enter the candidate
    * self-join, so per-key fanout is bounded by maxDf² (the exact
    * Σdf² quantity the q_quality_skew profiler prices in advance) and
    * docs sharing nothing but ultra-common shingles never pair. The
    * recall tradeoff is the classic stop-shingle one, and one-sided:
    * a pair is missed only if EVERY shared shingle is hot — at larger
    * corpora you LOWER the cap (hot shingles get hotter, rare ones
    * stay rare), so the plan gets cheaper, not worse, with scale.
    * Containment itself is then computed EXACTLY over the full
    * shingle sets of candidate pairs (in-row array_intersect, the
    * [[minhashPairs]] verify shape), so every emitted value is exact.
    *
    * Input `(doc_id, lang, shingle)` distinct rows; emits one row per
    * pair with containment >= threshold, oriented smaller-set-first
    * (ties by id). */
  def containmentPairs(shRaw: DataFrame, threshold: Double,
      maxDf: Long = 64L): DataFrame = {
    // Document frequency rides each shingle row via ONE window count,
    // so the rare index and its hot complement are FILTERS over the
    // same materialization — the previous shape re-aggregated the df
    // list and ran two joins (semi + anti) of the full shingle
    // relation against it (one exchange+sort here vs three exchanges;
    // r18 measured 2.5 -> 1.9 s warm at sf0.1).
    val sh = shRaw
      .withColumn("df", count(lit(1)).over(
        Window.partitionBy("lang", "shingle")))
      .localCheckpoint() // feeds index, complement, counts
    val idx = sh.filter(col("df") <= maxDf)
      .select("doc_id", "lang", "shingle")
    // The rare/hot split PARTITIONS each doc's shingle set, so the
    // exact intersection decomposes: inter = inter_rare + inter_hot.
    // inter_rare falls out of the candidate join's own (i, j) count —
    // no distinct-pair materialization, no per-doc shingle arrays
    // shipped to every candidate (the array_intersect formulation this
    // replaces shuffled ~500 B of strings per candidate row; measured
    // 5.6 s -> the join below is the same 900 k-row equi-join the
    // fanout cap already bounds, aggregated in place).
    val interIdx = idx.as("x").join(idx.as("y"),
        col("x.lang") === col("y.lang") &&
          col("x.shingle") === col("y.shingle") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("i"), col("y.doc_id").as("j"))
      .agg(count(lit(1)).as("inter_idx"))
      .localCheckpoint() // feeds the hot complement probe AND the output
    // inter_hot: shared shingles the index left OUT (df > maxDf),
    // counted only for already-found candidates — candidate docs share
    // a language, and hotness is per (lang, shingle), so the per-pair
    // rare/hot partition is consistent and the sum is the exact |A∩B|.
    val hot = sh.filter(col("df") > maxDf)
      .select("doc_id", "lang", "shingle")
    val interHot = interIdx.select("i", "j")
      .join(hot.select(col("doc_id").as("i"), col("shingle")), Seq("i"))
      .join(hot.select(col("doc_id").as("j"), col("shingle")),
        Seq("j", "shingle"))
      .groupBy("i", "j").agg(count(lit(1)).as("inter_hot"))
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val small = col("ca") <= col("cb") // pairs have i < j, so <= ties by id
    interIdx
      .join(interHot, Seq("i", "j"), "left")
      .withColumn("inter",
        col("inter_idx") + coalesce(col("inter_hot"), lit(0L)))
      .join(cnt.select(col("doc_id").as("i"), col("c").as("ca")), "i")
      .join(cnt.select(col("doc_id").as("j"), col("c").as("cb")), "j")
      .withColumn("containment",
        col("inter").cast("double") / least(col("ca"), col("cb")))
      .filter(col("containment") >= threshold)
      .select(
        when(small, col("i")).otherwise(col("j")).as("small_id"),
        when(small, col("j")).otherwise(col("i")).as("big_id"),
        least(col("ca"), col("cb")).as("c_small"),
        greatest(col("ca"), col("cb")).as("c_big"),
        col("inter"), col("containment"))
  }

  /** SimHash-60 sketch per doc (tf-weighted sign votes over md5-60 token
    * hashes). Votes are summed per token OCCURRENCE (±1 each), which
    * equals the tf-weighted sum over distinct tokens but needs no
    * (doc, token, tf) pre-aggregation — the exploded tokens partial-
    * aggregate map-side straight into 60 accumulators, so the only
    * exchange carries one 61-column row per doc per input partition. */
  def simhashSketch(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokh = docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .withColumn("h", h60(col("tok")))
    val voteCols = (0 until 60).map(b =>
      sum(when(expr(s"shiftright(h, $b) & 1") === 1, 1L)
        .otherwise(-1L)).as(s"v$b"))
    tokh.groupBy("doc_id")
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"),
        (0 until 60).map(b =>
          when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs with hamming <= maxHamming (must be <= 3 for
    * the 4-block pigeonhole to guarantee 100% recall). */
  def simhashPairs(sketches: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      "4 blocks of 15 bits guarantee recall only for hamming <= 3")
    val blocked = sketches.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(blk =>
        shiftright(col("simhash"), blk * 15).bitwiseAND(0x7fffL)): _*))
        .as(Seq("blk", "blkval")))
    blocked.as("x").join(blocked.as("y"),
        col("x.blk") === col("y.blk") && col("x.blkval") === col("y.blkval")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over an undirected near-dup pair list
    * ((i, j) rows): returns (doc_id, cluster_id) where cluster_id is the
    * MIN doc id in the component — the canonical-representative step that
    * turns pairwise matches into dedup groups. Iterative min-label
    * propagation to the exact fixpoint; pointer jumping makes the round
    * count logarithmic in component diameter (DedupSimilaritySpec proves
    * ~log2(k) rounds on a length-k chain), each round one equi-join +
    * min-aggregate — the standard large-graph CC shape. */
  def dedupClusters(pairs: DataFrame): DataFrame =
    dedupClustersCounted(pairs)._1

  /** [[dedupClusters]] plus the number of label-propagation rounds run —
    * exposed so tests can pin the log-diameter convergence claim. */
  private[graft] def dedupClustersCounted(pairs: DataFrame): (DataFrame, Int) = {
    // localCheckpoint (eager) after every step: an iterative algorithm
    // re-plans its whole upstream lineage each round otherwise — the
    // candidate-generation pipeline would re-execute once per round. On a
    // cluster with lossy executors use reliable checkpoint() instead.
    val edges = pairs.select(col("i").as("a"), col("j").as("b"))
      .union(pairs.select(col("j").as("a"), col("i").as("b")))
      .distinct()
      .localCheckpoint()
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      rounds += 1
      // min over self + neighbor labels (one hop); the self rows carry
      // the round's OLD label through the aggregation (min over the
      // single side=0 row), so convergence is checked on `next` alone —
      // no per-round join back against `labels`. Cached (not
      // checkpointed) because hop is consumed twice within THIS round and
      // can be dropped as soon as `next` materializes — per-round
      // checkpoints would pile up in storage memory for the session
      val viaNeighbor = edges
        .join(labels.select(col("id").as("b"), col("lbl")), "b")
        .select(col("a").as("id"), col("lbl"), lit(null).cast("long").as("old"))
      val hop = labels.select(col("id"), col("lbl"), col("lbl").as("old"))
        .union(viaNeighbor)
        .groupBy("id").agg(min(col("lbl")).as("lbl"), min(col("old")).as("old"))
        .cache()
      // ...then pointer-jump through the representative's own label, which
      // makes convergence logarithmic in component diameter instead of
      // linear (a representative's label only ever decreases, so the
      // jumped label is always <= the hopped one)
      val reps = hop.select(col("id").as("rep"), col("lbl").as("replbl"))
      val next = hop.join(reps, hop("lbl") === reps("rep"))
        .select(hop("id"), col("replbl").as("lbl"), hop("old"))
        .loopCheckpoint()
      changed = next.filter(col("lbl") < col("old")).count()
      hop.unpersist()
      labels = next.select("id", "lbl")
      // superseded `next` checkpoints are unreferenced after this rebind
      // and reclaimed by the ContextCleaner on GC
    }
    (labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id")), rounds)
  }

  /** CDC merge (upsert): apply a change batch onto a base table by key —
    * the MERGE INTO shape that keeps a continuously-refreshed corpus
    * current. `changes` carries the base's payload columns plus an `op`
    * column ('I' insert, 'U' update with full payload, 'D' delete). One
    * full-outer equi-join on the key — both sides shuffle once (full
    * outer cannot broadcast), which is the Delta/Iceberg MERGE shape;
    * never a driver-side loop. Emits the merged rows with an `op` audit
    * column ('=' for untouched base rows). */
  def merge(base: DataFrame, changes: DataFrame, keyCol: String): DataFrame = {
    val payload = base.columns.toSeq.filterNot(_ == keyCol)
    val b = base.alias("b")
    val c = changes.alias("c")
    val outCols =
      coalesce(col(s"c.$keyCol"), col(s"b.$keyCol")).as(keyCol) +:
        payload.map(p =>
          // when/otherwise, NOT coalesce: an update/insert whose payload is
          // legitimately NULL must propagate the NULL (MERGE semantics),
          // not silently keep the base value
          when(col("c.op").isin("U", "I"), col(s"c.$p"))
            .otherwise(col(s"b.$p")).as(p)) :+
        coalesce(col("c.op"), lit("=")).as("op")
    b.join(c, col(s"b.$keyCol") === col(s"c.$keyCol"), "full_outer")
      .filter(coalesce(col("c.op"), lit("")) =!= "D")
      .select(outCols: _*)
  }

  /** SCD Type-2 apply: fold one change batch (rows carrying the same
    * payload columns plus `op` in U/I/D) into a HISTORY table at
    * `version`. The history schema is the payload plus (valid_from,
    * valid_to: nullable, is_current); updates and deletes CLOSE the
    * key's current row (valid_to = version) and updates/inserts open a
    * new current one (valid_from = version) — deletes close without a
    * successor, so full lineage survives (the warehouse twin of
    * [[merge]], which keeps only the fixpoint).
    *
    * Scale shape: prior history passes through untouched; the current
    * slice is split by ONE semi + ONE anti join on the key (both
    * broadcastable for batch-sized change sets), and the new rows are a
    * projection of the batch — the base never shuffles its payload.
    *
    * PRECONDITION: at most one change row per key per batch (the CDC
    * contract — a batch is a keyed snapshot of deltas). Duplicate keys
    * in one batch would open multiple `is_current` rows for the same
    * key; pre-reduce the batch (latest-wins on your CDC ordering
    * column) before calling, as every caller in this repo does. */
  def scdApply(base: DataFrame, changes: DataFrame, keyCol: String,
      version: Long): DataFrame = {
    val payload = base.columns.toSeq
      .filterNot(Set(keyCol, "valid_from", "valid_to", "is_current"))
    val affectedKeys = changes.select(keyCol)
    val current = base.filter(col("is_current"))
    val closed = current
      .join(affectedKeys, Seq(keyCol), "left_semi")
      .withColumn("valid_to", lit(version))
      .withColumn("is_current", lit(false))
    val untouched = current.join(affectedKeys, Seq(keyCol), "left_anti")
    val opened = changes.filter(col("op") =!= "D")
      .select((col(keyCol) +: payload.map(col)) :_*)
      .withColumn("valid_from", lit(version))
      .withColumn("valid_to", lit(null).cast("long"))
      .withColumn("is_current", lit(true))
    base.filter(!col("is_current"))
      .unionByName(closed).unionByName(untouched).unionByName(opened)
  }

  /** Point-in-time read over [[scdApply]] history: the table exactly as
    * it stood after the batch at `version` — rows whose validity
    * interval covers it (`valid_from <= version` and `valid_to` either
    * open or strictly later). At the latest applied version this is the
    * MERGE fixpoint ([[merge]]); at earlier versions it reconstructs
    * states MERGE has already discarded — the read half of the SCD2
    * write/read pair.
    *
    * Scale shape: a pure narrow filter over the history scan — no
    * shuffle, and under a `valid_from`/`valid_to`-partitioned or
    * zone-mapped layout the interval predicate prunes at the scan. */
  def scdAsOf(history: DataFrame, version: Long): DataFrame =
    history.filter(col("valid_from") <= version &&
      (col("valid_to").isNull || col("valid_to") > version))

  /** Temporal join against [[scdApply]] history: each fact row enriched
    * with the dimension version valid AT ITS OWN version stamp —
    * `valid_from <= v < valid_to` (open intervals unbounded). History
    * intervals per key are disjoint by construction, so at most one
    * version matches; facts whose key had no valid version at `v`
    * (not yet inserted, or deleted) survive with NULL payload — the
    * warehouse convention that late or orphaned facts are visible, not
    * dropped.
    *
    * Scale shape: ONE equi join on the natural key (the interval test
    * rides the join as a residual predicate — per-key history is a few
    * versions, so the residual prunes a handful of rows, never a range
    * blow-up); history is dimension-sized and broadcasts when small.
    *
    * The history key column is DROPPED from the output (it equals the
    * fact key wherever it matched, and would collide when `factKey` and
    * `histKey` share a name, breaking downstream by-name selection);
    * `valid_from`/`valid_to` pass through for callers that want the
    * matched interval. */
  def temporalJoin(facts: DataFrame, factKey: String, versionCol: String,
      history: DataFrame, histKey: String): DataFrame = {
    val h = history.alias("h")
    facts.alias("f").join(h,
      col(s"h.$histKey") === col(s"f.$factKey") &&
        col("h.valid_from") <= col(s"f.$versionCol") &&
        (col("h.valid_to").isNull || col("h.valid_to") > col(s"f.$versionCol")),
      "left")
      .drop(col(s"h.$histKey"))
  }

  /** Decontamination: drop rows whose content digest appears in `eval`.
    * Fingerprints are anti-joined (broadcast when small); documents never
    * shuffle. */
  def decontaminate(train: DataFrame, eval_ : DataFrame, idCol: String,
      textCol: String): DataFrame = {
    def fp(df: DataFrame) = df.select(col(idCol), contentFp(col(textCol)).as("fp"))
    fp(train).join(broadcast(fp(eval_).select("fp")), Seq("fp"), "left_anti")
  }

  // ---- similarity ----------------------------------------------------

  /** Brute-force top-k cosine neighbors of `queries` within `corpus`
    * (both `(id, vec)`-shaped). Queries are broadcast; ranks carry a full
    * tie-break. */
  def knnBrute(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    corpus.select(col("id").as("n_id"), col("vec"))
      .join(broadcast(queries.select(col("id").as("q_id"), col("vec").as("q_vec"))),
        col("n_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("q_vec"), col("vec")))
      .select(col("q_id"), col("n_id"), row_number().over(w).as("rnk"))
      .filter(col("rnk") <= k)
  }

  /** IVF multi-probe ANN: compute one centroid per `cell` (per-dimension
    * decimal-exact mean, so both engines build the identical codebook),
    * probe the `nprobe` nearest centroids per query by cosine, then rank
    * only the vectors in the probed cells. corpus/queries are
    * (id, vec, cell)-shaped. The scale shape of real IVF: the codebook
    * broadcasts (cells << corpus), candidates shuffle on the cell key,
    * and each query scores ~nprobe/cells of the corpus. */
  def ivfProbe(corpus: DataFrame, queries: DataFrame, k: Int,
      nprobe: Int): DataFrame = {
    val comp = corpus
      .select(col("cell"), posexplode(col("vec")).as(Seq("i", "x")))
      .groupBy("cell", "i")
      .agg((graft.Exact.decOut(sum(col("x").cast("double").cast(
        org.apache.spark.sql.types.DecimalType(38, 10)))) / count(lit(1))).as("c"))
    val centroids = comp.groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
        s => s.getField("c")).as("cvec"))
    val wProbe = Window.partitionBy("q_id").orderBy(col("ccos").desc, col("cell").asc)
    val probes = queries.select(col("id").as("q_id"), col("vec").as("q_vec"))
      .crossJoin(broadcast(centroids))
      .withColumn("ccos", cosine(col("q_vec"), col("cvec")))
      .select(col("q_id"), col("q_vec"), col("cell"),
        row_number().over(wProbe).as("pr"))
      .filter(col("pr") <= nprobe)
    val wRank = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    corpus.select(col("id").as("n_id"), col("vec"), col("cell"))
      .join(broadcast(probes.select("q_id", "q_vec", "cell")), Seq("cell"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("q_vec"), col("vec")))
      .select(col("q_id"), col("n_id"), row_number().over(wRank).as("rnk"))
      .filter(col("rnk") <= k)
  }

  /** Distributed spherical k-means (Lloyd): train the coarse-quantizer
    * codebook [[ivfProbe]] consumes, and the clustering a curation
    * pipeline uses for domain discovery / mixture balancing.
    *
    * Deterministic end-to-end — no RNG, no model file: seeds are the `k`
    * vectors with smallest md5-60 of their id (k-means++-style spread via
    * hash pseudo-randomness, `orderBy(h60).limit(k)` =
    * TakeOrderedAndProject, per-partition heaps — never a global sort);
    * each round assigns every vector to its max-cosine centroid
    * (broadcast k-row codebook, partitioned-window rank with a full
    * tie-break) and recomputes centroids as per-(cell, dim) means with
    * decimal(38,10) accumulation — bit-identical on any cluster layout
    * AND in the DuckDB oracle, which replays every round as materialized
    * CTE stages. A cell that loses all members dies (standard Lloyd);
    * both engines drop it identically.
    *
    * Scale shape per round: one broadcast join (codebook is k rows), one
    * shuffle of (cell, dim, x) triples for the mean — never documents or
    * pairwise products; `localCheckpoint` truncates the k-row codebook
    * lineage so the plan stays shallow at any iteration count.
    *
    * Returns the assignment after `iters` update+assign rounds:
    * `(id, cell)` where cell is the seed vector's id. */
  def kmeans(vecs: DataFrame, k: Int, iters: Int): DataFrame =
    kmeansFit(vecs, k, iters)._1

  /** [[kmeans]] exposing the trained model too: returns
    * (assignment `(id, cell)`, centroids `(cell, cvec)`) — the centroids
    * are what [[semanticDedup]] ranks centrality against, and what a
    * caller would persist as the IVF codebook. */
  def kmeansFit(vecs: DataFrame, k: Int, iters: Int): (DataFrame, DataFrame) = {
    val v = vecs.select(col("id"), col("vec"))
    val seedKey = h60(concat(lit("km:"), col("id").cast("string")))
    var cents = v.orderBy(seedKey.asc, col("id").asc).limit(k)
      .select(col("id").as("cell"), col("vec").as("cvec"))
      .localCheckpoint()
    val wA = Window.partitionBy("id").orderBy(col("cos").desc, col("cell").asc)
    def assign(cs: DataFrame): DataFrame =
      v.crossJoin(broadcast(cs))
        .withColumn("cos", cosine(col("vec"), col("cvec")))
        .select(col("id"), col("vec"), col("cell"),
          row_number().over(wA).as("rn"))
        .filter(col("rn") === 1)
    var assigned = assign(cents)
    (1 to iters).foreach { _ =>
      val comp = assigned
        .select(col("cell"), posexplode(col("vec")).as(Seq("i", "x")))
        .groupBy("cell", "i")
        .agg((graft.Exact.decOut(sum(graft.Exact.dec(col("x").cast("double"))))
          / count(lit(1))).as("c"))
      cents = comp.groupBy("cell")
        .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
          s => s.getField("c")).as("cvec"))
        .localCheckpoint()
      assigned = assign(cents)
    }
    (assigned.select(col("id"), col("cell")), cents)
  }

  /** Semantic (embedding-space) dedup, the SemDeDup shape: cluster the
    * corpus with [[kmeansFit]], rank each cluster's members by centrality
    * (cosine to their centroid, id tie-break), and DROP any member that
    * has a strictly more-central same-cell neighbor with pairwise cosine
    * >= `tau` — near-meaning-duplicates collapse to their most central
    * representative, without any text overlap signal. The drop rule is a
    * pure EXISTS over ranked pairs (not a sequential greedy scan), so it
    * is order-independent and fully parallel.
    *
    * Scale shape: candidate pairs come from an equi-join on the cell key
    * only — within-cell all-pairs is O(sum cell_i^2), which a production
    * run bounds by scaling k with the corpus (SemDeDup trains ~N/avgCell
    * clusters precisely so cells stay constant-size); centroids broadcast
    * (k rows), members shuffle once on cell, and the pairwise cosine is
    * the codegen'd [[graft.functions.CosineSim]] — no interpreted HOF in
    * the hot loop. Returns kept rows `(id, cell)`.
    *
    * RECALL CONTRACT (measured, SimilarityRecallSpec): within-cell
    * pruning cannot see a cross-cell near-dup pair — by construction.
    * How many pairs cross cells is set by where `tau` sits relative to
    * the data's random-pair cosine: at cos ~0.95 planted near-dups,
    * >= 0.9 of pairs share a cell (spec-pinned — the regime SemDeDup is
    * built for); at the fixture's tau = 0.35 ~ barely above random,
    * only a measured 0.338 do (spec-pinned floor 0.3) — an adversarial
    * regime where no centroid partition separates, same frontier as the
    * SRP index family. The k knob trades the other way: more, smaller
    * cells cut candidate volume but split MORE tau-pairs — a k bump
    * that drops below the pinned floors fails the spec, not silently. */
  def semanticDedup(vecs: DataFrame, k: Int, iters: Int, tau: Double): DataFrame = {
    val (assigned, cents) = kmeansFit(vecs, k, iters)
    val wR = Window.partitionBy("cell").orderBy(col("central").desc, col("id").asc)
    val ranked = vecs.select(col("id"), col("vec"))
      .join(assigned, Seq("id"))
      .join(broadcast(cents), Seq("cell"))
      .withColumn("central", cosine(col("vec"), col("cvec")))
      .select(col("cell"), col("id"), col("vec"),
        row_number().over(wR).as("kr"))
    val more = ranked.select(col("cell"), col("id").as("i"),
      col("vec").as("vi"), col("kr").as("ki"))
    val less = ranked.select(col("cell"), col("id").as("j"),
      col("vec").as("vj"), col("kr").as("kj"))
    val dropped = more.join(less, Seq("cell"))
      .filter(col("ki") < col("kj") &&
        cosine(col("vi"), col("vj")) >= tau)
      .select(col("j").as("id")).distinct()
    ranked.select("id", "cell").join(dropped, Seq("id"), "left_anti")
  }

  /** Per-doc quality features for [[qualityClassifier]], every one an
    * exact-rational double (integer-derived ratios — no libm), plus the
    * heuristic-consensus label: x1 = capped token count / 200, x2 =
    * stopword ratio, x3 = capped mean token length / 10, x4 = distinct
    * token ratio, x5 = digit-character ratio; y = 1.0 when the
    * q_text_quality composite score falls below 0.5 (the deterministic
    * heuristic split the model is trained to smooth). One narrow scan,
    * zero shuffle. */
  def qualityFeatures(docs: DataFrame): DataFrame = {
    import graft.functions.TextAnalysis.{tokenChars, withQualityGates}
    val toks = col("toks")
    val nTok = greatest(size(toks), lit(1))
    withQualityGates(docs.select(col("doc_id"), col("text"), tokens(col("text")).as("toks")))
      .select(
        col("doc_id"),
        (least(size(toks), lit(200)).cast("double") / 200.0).as("x1"),
        col("stop_ratio").as("x2"),
        (least(tokenChars(toks).cast("double") / nTok, lit(10.0)) / 10.0).as("x3"),
        (size(array_distinct(toks)).cast("double") / nTok).as("x4"),
        (length(regexp_replace(col("text"), "[^0-9]", "")).cast("double")
          / greatest(length(col("text")), lit(1))).as("x5"),
        when(col("quality") < 0.5, 1.0).otherwise(0.0).as("y"))
  }

  /** TRAINED quality filter: full-batch class-balanced logistic
    * regression over [[qualityFeatures]], the model-based rung above the
    * heuristic gates (the fastText-shaped "looks like reference text"
    * filter of production pretraining pipelines, with the engine's
    * determinism rules). Everything is replayable: hard-sigmoid link
    * p = clamp(0.5 + z/4, 0, 1) instead of exp (no libm — bit-identical
    * doubles cross-engine), per-class gradient sums accumulate as
    * DECIMAL(38,10) and leave through round(·,6)::double (the kmeans
    * precedent), weights update as plain IEEE expressions in a fixed
    * order, bias starts at 0.01 so every residual is a full-length
    * double (no short binary fractions reaching the decimal cast).
    * Class-balancing (each class contributes 1/2 of the gradient via its
    * own mean) is what makes the minority junk class learnable at the
    * corpus' ~7% junk rate — unweighted GD collapses to all-clean.
    *
    * Scale shape per round: ONE map-side-combined aggregate over the
    * checkpointed feature relation (12 decimal sums + carried weights),
    * then a 1-row broadcast crossJoin for the next scoring pass —
    * documents are read once into features; no driver-side math, no
    * collect. Requires both classes present (a corpus with no junk has
    * nothing to train on). Returns (doc_id, y_heur, score, flagged). */
  def qualityClassifier(docs: DataFrame, rounds: Int = 6,
      lr: Double = 4.0): DataFrame =
    qualityScore(docs, qualityClassifierFit(docs, rounds, lr))

  private val qualityXs = Seq("x1", "x2", "x3", "x4", "x5")

  /** hard-sigmoid scoring pass: p = clamp(0.5 + z/4, 0, 1) with
    * z = b + sum(w_k * x_k) left-folded — the shared expression tree of
    * training and inference (same IEEE op order, so the oracle's
    * restatement lands the bit-identical double) */
  private def qualityP(feat: DataFrame, wdf: DataFrame): DataFrame = {
    val z = qualityXs.foldLeft(col("b"))((acc, x) => acc + col(s"w_$x") * col(x))
    feat.crossJoin(broadcast(wdf))
      .withColumn("p", least(lit(1.0), greatest(lit(0.0), lit(0.5) + lit(0.25) * z)))
  }

  /** The TRAINED model alone: the 1-row weight frame (b, w_x1..w_x5,
    * plus the class counts) after `rounds` class-balanced GD rounds
    * over `docs` — train offline on the static corpus, then broadcast
    * into [[qualityScore]] at ingest (the fastText-at-the-firehose
    * shape the streaming twin uses). */
  def qualityClassifierFit(docs: DataFrame, rounds: Int = 6,
      lr: Double = 4.0): DataFrame = {
    import graft.Exact.dec
    def d6(c: Column): Column = round(c, 6).cast("double")
    val feat = qualityFeatures(docs).localCheckpoint()
    // fail fast on a single-class corpus: nj or nc = 0 would make the
    // class-balanced update divide by zero and silently emit NaN/Inf
    // weights (every downstream score garbage). Two driver-side scalar
    // counts of the already-checkpointed feature relation — the
    // documented convergence-read pattern.
    val nj = feat.filter(col("y") === 1.0).count().toDouble
    val nc = feat.filter(col("y") === 0.0).count().toDouble
    require(nj > 0 && nc > 0,
      s"qualityClassifierFit: class-balanced GD needs both classes present " +
        s"(junk=$nj, clean=$nc) — an all-clean or all-junk corpus has " +
        "nothing to train on")
    var w: DataFrame = docs.sparkSession.range(1)
      .select(lit(0.01).as("b") +: qualityXs.map(x => lit(0.0).as(s"w_$x"))
        :+ lit(nj).as("nj") :+ lit(nc).as("nc"): _*)
    (1 to rounds).foreach { _ =>
      val p = qualityP(feat, w).withColumn("r", col("p") - col("y"))
      val carry = Seq(first(col("b")).as("b")) ++
        qualityXs.map(x => first(col(s"w_$x")).as(s"w_$x")) ++
        Seq(first(col("nj")).as("nj"), first(col("nc")).as("nc"))
      val grads = Seq(
        d6(sum(when(col("y") === 1.0, dec(col("r"))))).as("sj_b"),
        d6(sum(when(col("y") === 0.0, dec(col("r"))))).as("sc_b")) ++
        qualityXs.flatMap(x => Seq(
          d6(sum(when(col("y") === 1.0, dec(col("r") * col(x))))).as(s"sj_$x"),
          d6(sum(when(col("y") === 0.0, dec(col("r") * col(x))))).as(s"sc_$x")))
      val aggs = carry ++ grads
      val g = p.agg(aggs.head, aggs.tail: _*)
      def upd(wc: String, sj: String, sc: String): Column =
        (col(wc) - lit(lr) * (lit(0.5) * (col(sj) / col("nj"))
          + lit(0.5) * (col(sc) / col("nc")))).as(wc)
      w = g.select(upd("b", "sj_b", "sc_b") +:
        qualityXs.map(x => upd(s"w_$x", s"sj_$x", s"sc_$x"))
        :+ col("nj") :+ col("nc"): _*).localCheckpoint()
    }
    w
  }

  /** Score `docs` with a trained weight frame from
    * [[qualityClassifierFit]]: one stateless feature pass + the
    * broadcast 1-row model — the per-micro-batch inference shape.
    * Returns (doc_id, y_heur, score, flagged). */
  def qualityScore(docs: DataFrame, weights: DataFrame): DataFrame =
    qualityP(qualityFeatures(docs), weights)
      .select(col("doc_id"), col("y").cast("int").as("y_heur"),
        col("p").as("score"), (col("p") >= 0.5).as("flagged"))

  /** Greedy k-center diversity selection (Gonzalez's 2-approximation) —
    * the COVERAGE sampler of a curation pipeline: pick the k mutually
    * most-spread vectors (seed/eval-set selection, dedup-aware corpus
    * summaries), the complement of [[semanticDedup]]'s redundancy drop.
    * Deterministic end-to-end: the first center is the min md5-60 id,
    * each next center is the point FARTHEST from its nearest chosen
    * center (cosine distance 1 - cos; argmax with dist desc, id asc
    * tie-break), so the DuckDB oracle replays every pick as a
    * materialized stage and the emitted distances are bit-identical
    * (the shared CosineSim fold).
    *
    * Scale shape: k sequential passes, each ONE corpus scan against the
    * <= k-row broadcast center set, a map-side-combined per-point max,
    * and a TakeOrdered(1) pick — O(n*k) cosines total, no pairwise
    * product, no per-round shuffle of vectors. The k SEQUENTIAL
    * driver-coordinated rounds are inherent to greedy Gonzalez: fine at
    * k = 8, but at k = 10^4 (coreset building) the driver round-trips
    * over the full corpus dominate — use [[kcenterSampled]] there,
    * which runs the same greedy over an O(k log k) pre-sample and
    * audits the true covering radius in one final corpus pass. The
    * greedy radius sequence is non-increasing (each added center only
    * shrinks nearest-center distances) — property-pinned in spec. Returns
    * (pick, id, mind) where mind is the covering radius when picked
    * (NULL for the seed — no prior centers). */
  def kcenter(vecs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k-center needs k >= 1")
    val e = vecs.select(col("id"), col("vec")).localCheckpoint()
    var centers = e
      .orderBy(h60(concat(lit("kc:"), col("id").cast("string"))).asc, col("id").asc)
      .limit(1)
      .select(col("id").as("cid"), col("vec").as("cvec"),
        lit(1).as("pick"), lit(null).cast("double").as("mind"))
      .localCheckpoint()
    (2 to k).foreach { t =>
      val mind = e
        .crossJoin(broadcast(centers.select(col("cvec"))))
        .withColumn("cos", cosine(col("vec"), col("cvec")))
        .groupBy("id").agg((lit(1.0) - max(col("cos"))).as("mind"))
      val next = e.join(mind, Seq("id"))
        .join(centers.select(col("cid").as("id")), Seq("id"), "left_anti")
        .orderBy(col("mind").desc, col("id").asc).limit(1)
        .select(col("id").as("cid"), col("vec").as("cvec"),
          lit(t).as("pick"), col("mind"))
      centers = centers.unionByName(next).loopCheckpoint()
    }
    centers.select(col("pick"), col("cid").as("id"), col("mind"))
  }

  /** [[kcenter]] for LARGE k — the coreset variant. Exact greedy is k
    * sequential driver-coordinated jobs, each a full corpus scan: fine
    * at k = 8, driver-round-trip-bound at k = 10^4 (coreset building).
    * This runs the SAME greedy over a deterministic uniform pre-sample
    * of m = sampleFactor * k * (ceil(log2 k) + 1) rows (the O(k log k)
    * size at which every optimal cluster of mass >= n/m is hit w.h.p.
    * under uniform sampling), so each of the k rounds scans m rows
    * instead of n — the corpus is touched exactly TWICE: once by the
    * h60 TakeOrdered sample, once by the final covering-radius AUDIT
    * pass (one scan against the broadcast k centers, max over
    * per-point nearest-center distances). The audit is what keeps the
    * approximation honest: the returned `audit_radius` (same value on
    * every row) is the TRUE full-corpus covering radius of the sampled
    * picks — a caller with a radius budget checks it and re-runs with a
    * larger sampleFactor when exceeded, instead of trusting the
    * sample's internal radius. Sampling can miss a tiny far-out
    * cluster (mass < n/m) — that miss shows up IN audit_radius, never
    * silently. Deterministic end-to-end (h60 sample, the exact-greedy
    * tie-breaks inside). Returns (pick, id, mind, audit_radius); mind
    * is the within-sample radius when picked (NULL for the seed). */
  def kcenterSampled(vecs: DataFrame, k: Int, sampleFactor: Int = 4): DataFrame = {
    require(k >= 1, "k-center needs k >= 1")
    require(sampleFactor >= 1, "sampleFactor >= 1")
    val log2k = math.ceil(math.log(math.max(k, 2).toDouble) / math.log(2.0)).toInt
    val m = sampleFactor * k * (log2k + 1)
    val sample = vecs.select(col("id"), col("vec"))
      .orderBy(h60(concat(lit("kcs:"), col("id").cast("string"))).asc,
        col("id").asc)
      .limit(m)
      .localCheckpoint() // the k greedy rounds read THIS, never the corpus
    val picks = kcenter(sample, k)
    val cvecs = sample.join(broadcast(picks.select(col("id"))), Seq("id"))
      .select(col("vec").as("cvec"))
    val audit = vecs.select(col("id"), col("vec"))
      .crossJoin(broadcast(cvecs))
      .withColumn("cos", cosine(col("vec"), col("cvec")))
      .groupBy("id").agg((lit(1.0) - max(col("cos"))).as("d"))
      .agg(max(col("d")).as("audit_radius"))
    picks.crossJoin(broadcast(audit))
  }

  /** Product-quantization codebooks: an independent spherical k-means per
    * subspace over the sliced vectors, trained in ONE DataFrame program
    * (all subspaces iterate together — the per-round shuffles carry
    * (m, cell, dim) keys, never vectors pairwise). `sub` is the sliced
    * relation `(m, id, subvec)`. Seeds per subspace are the k smallest
    * md5-60 ids, selected with M small TakeOrderedAndProject jobs (never
    * a fat per-m window — at corpus scale a rank over 1/M of all rows
    * per partition is the wrong shape; a production trainer would seed
    * from a sample, stated honestly). Returns (codes `(m, id, cell)`,
    * codebooks `(m, cell, cvec)`) after `iters` update+assign rounds —
    * deterministic end-to-end, same guarantees as [[kmeans]]. */
  def pqCodebooks(sub: DataFrame, subspaces: Int, k: Int,
      iters: Int): (DataFrame, DataFrame) = {
    val seedKey = h60(concat(lit("pq:"), col("m").cast("string"),
      lit(":"), col("id").cast("string")))
    var books = (0 until subspaces).map { m =>
      sub.filter(col("m") === m)
        .orderBy(seedKey.asc, col("id").asc).limit(k)
        .select(col("m"), col("id").as("cell"), col("subvec").as("cvec"))
    }.reduce(_ unionAll _).localCheckpoint()
    val wA = Window.partitionBy("m", "id").orderBy(col("cos").desc, col("cell").asc)
    def assign(bs: DataFrame): DataFrame =
      sub.join(broadcast(bs), Seq("m"))
        .withColumn("cos", cosine(col("subvec"), col("cvec")))
        .select(col("m"), col("id"), col("subvec"), col("cell"),
          row_number().over(wA).as("rn"))
        .filter(col("rn") === 1)
    var codes = assign(books)
    (1 to iters).foreach { _ =>
      val comp = codes
        .select(col("m"), col("cell"), posexplode(col("subvec")).as(Seq("i", "x")))
        .groupBy("m", "cell", "i")
        .agg((graft.Exact.decOut(sum(graft.Exact.dec(col("x").cast("double"))))
          / count(lit(1))).as("c"))
      books = comp.groupBy("m", "cell")
        .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
          s => s.getField("c")).as("cvec"))
        .localCheckpoint()
      codes = assign(books)
    }
    (codes.select("m", "id", "cell"), books)
  }

  /** Product-quantization ANN (ADC): corpus vectors compress to
    * `subspaces` one-byte codes (the 100 TB memory story — a 64-float
    * embedding becomes 4 codewords); queries score candidates through a
    * broadcast lookup table, so the per-candidate cost is `subspaces`
    * table lookups and fixed-order adds — NO float vector math per
    * corpus row at search time.
    *
    * approx_cos(q, x) = (sum_m dot(q_m, c_m(x))) / (|q| * sqrt(sum_m
    * |c_m(x)|^2)) with all M-term sums folded in FIXED subspace order
    * (m=0..M-1), so the double is reproducible on any cluster layout and
    * restatable by the oracle. Ranks carry a full tie-break; output is
    * ranks only, so last-ulp engine drift cannot surface even in
    * principle.
    *
    * Two-stage, the production PQ shape: the ADC score ranks a
    * `shortlist` of candidates per query (cheap lookups over the whole
    * corpus), then ONLY the shortlist is re-scored with exact cosine
    * against the true vectors and the final `topK` re-ranked. The
    * shortlist is a constant per query, so the exact-math fraction
    * SHRINKS as the corpus grows — at sf0.01 it is 100/500, at 100 TB it
    * is 100/billions. */
  def pqSearch(vecs: DataFrame, queries: DataFrame, subspaces: Int,
      subDim: Int, k: Int, iters: Int, topK: Int,
      shortlist: Int = 100): DataFrame = {
    def sliced(df: DataFrame): DataFrame =
      df.select(col("id"), posexplode(
        array((0 until subspaces).map(m =>
          slice(col("vec"), m * subDim + 1, subDim)): _*)).as(Seq("m", "subvec")))
    val (codes, books) = pqCodebooks(sliced(vecs), subspaces, k, iters)
    val booksN = books.withColumn("cn2",
      graft.functions.VectorFunctions.norm2(col("cvec")))
    val qn = queries.select(col("id").as("q_id"),
      sqrt(graft.functions.VectorFunctions.norm2(col("vec"))).as("qn"))
    val lut = sliced(queries).select(col("id").as("q_id"), col("m"), col("subvec"))
      .join(booksN, Seq("m"))
      .select(col("q_id"), col("m"), col("cell"),
        graft.functions.VectorFunctions.dot(col("subvec"), col("cvec")).as("dotv"),
        col("cn2"))
    // per (query, doc): M lookup rows pivot to fixed-order columns so the
    // float adds associate identically in both engines
    val dcols = (0 until subspaces).map(m =>
      max(when(col("m") === m, col("dotv"))).as(s"d$m"))
    val ncols = (0 until subspaces).map(m =>
      max(when(col("m") === m, col("cn2"))).as(s"n$m"))
    val scored = codes.join(broadcast(lut), Seq("m", "cell"))
      .groupBy(col("q_id"), col("id").as("n_id"))
      .agg(dcols.head, (dcols.tail ++ ncols): _*)
      .join(broadcast(qn), Seq("q_id"))
      .withColumn("score",
        (0 until subspaces).map(m => col(s"d$m")).reduce(_ + _)
          / (col("qn") * sqrt((0 until subspaces).map(m => col(s"n$m")).reduce(_ + _))))
    val wShort = Window.partitionBy("q_id").orderBy(col("score").desc, col("n_id").asc)
    val short = scored.filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), row_number().over(wShort).as("prnk"))
      .filter(col("prnk") <= shortlist)
    val wFinal = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    short
      .join(vecs.select(col("id").as("n_id"), col("vec")), Seq("n_id"))
      .join(broadcast(queries.select(col("id").as("q_id"), col("vec").as("q_vec"))),
        Seq("q_id"))
      .withColumn("cos", cosine(col("q_vec"), col("vec")))
      .select(col("q_id"), col("n_id"), row_number().over(wFinal).as("rnk"))
      .filter(col("rnk") <= topK)
  }

  /** IVF+PQ — the production ANN architecture, composed from the two
    * halves this engine already proves: the COARSE stage probes the
    * `nprobe` nearest inverted-file cells (decimal-exact centroids of
    * the corpus's cell column, the [[ivfProbe]] derivation), and the
    * FINE stage ADC-scores ONLY the probed cells' members with the
    * broadcast PQ lookup tables ([[pqSearch]]'s trained codebooks),
    * then exact-reranks a constant shortlist. At 100 TB this is the
    * index that fits: centroids broadcast (cells << corpus), codes are
    * 4 bytes/vector, each query touches ~nprobe/cells of the CODES and
    * never a raw vector until the shortlist rerank. Deterministic
    * end-to-end (codebook training replayed by the oracle stage by
    * stage), returns (q_id, n_id, rnk). */
  def ivfPqSearch(corpus: DataFrame, queries: DataFrame, subspaces: Int,
      subDim: Int, k: Int, iters: Int, nprobe: Int, topK: Int,
      shortlist: Int = 50): DataFrame = {
    // coarse: centroids + probes, exactly ivfProbe's derivation
    val comp = corpus
      .select(col("cell"), posexplode(col("vec")).as(Seq("i", "x")))
      .groupBy("cell", "i")
      .agg((graft.Exact.decOut(sum(col("x").cast("double").cast(
        org.apache.spark.sql.types.DecimalType(38, 10)))) / count(lit(1))).as("c"))
    val centroids = comp.groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
        s => s.getField("c")).as("cvec"))
    val wProbe = Window.partitionBy("q_id").orderBy(col("ccos").desc, col("cell").asc)
    val probes = queries.select(col("id").as("q_id"), col("vec").as("q_vec"))
      .crossJoin(broadcast(centroids))
      .withColumn("ccos", cosine(col("q_vec"), col("cvec")))
      .select(col("q_id"), col("cell"), row_number().over(wProbe).as("pr"))
      .filter(col("pr") <= nprobe)
    // candidate pairs: probed cells' members only — keys, never vectors
    val cand = corpus.select(col("id").as("n_id"), col("cell"))
      .join(broadcast(probes.select("q_id", "cell")), Seq("cell"))
      .filter(col("n_id") =!= col("q_id"))
      .select("q_id", "n_id")
    // fine: PQ codebooks over the whole corpus (built offline, once)
    def sliced(df: DataFrame): DataFrame =
      df.select(col("id"), posexplode(
        array((0 until subspaces).map(m =>
          slice(col("vec"), m * subDim + 1, subDim)): _*)).as(Seq("m", "subvec")))
    val (codes, books) = pqCodebooks(
      sliced(corpus.select(col("id"), col("vec"))), subspaces, k, iters)
    val booksN = books.withColumn("cn2",
      graft.functions.VectorFunctions.norm2(col("cvec")))
    val qn = queries.select(col("id").as("q_id"),
      sqrt(graft.functions.VectorFunctions.norm2(col("vec"))).as("qn"))
    val lut = sliced(queries).select(col("id").as("q_id"), col("m"), col("subvec"))
      .join(booksN, Seq("m"))
      .select(col("q_id"), col("m"), col("cell"),
        graft.functions.VectorFunctions.dot(col("subvec"), col("cvec")).as("dotv"),
        col("cn2"))
    val dcols = (0 until subspaces).map(m =>
      max(when(col("m") === m, col("dotv"))).as(s"d$m"))
    val ncols = (0 until subspaces).map(m =>
      max(when(col("m") === m, col("cn2"))).as(s"n$m"))
    // ADC over candidates only: codes join the (q, n) pairs by id, then
    // the per-(query, m, codeword) LUT row — probed members never read
    // their raw vectors here
    val scored = codes.select(col("m"), col("id").as("n_id"), col("cell"))
      .join(cand, Seq("n_id"))
      .join(broadcast(lut), Seq("q_id", "m", "cell"))
      .groupBy(col("q_id"), col("n_id"))
      .agg(dcols.head, (dcols.tail ++ ncols): _*)
      .join(broadcast(qn), Seq("q_id"))
      .withColumn("score",
        (0 until subspaces).map(m => col(s"d$m")).reduce(_ + _)
          / (col("qn") * sqrt((0 until subspaces).map(m => col(s"n$m")).reduce(_ + _))))
    val wShort = Window.partitionBy("q_id").orderBy(col("score").desc, col("n_id").asc)
    val short = scored
      .select(col("q_id"), col("n_id"), row_number().over(wShort).as("prnk"))
      .filter(col("prnk") <= shortlist)
    val wFinal = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    short
      .join(corpus.select(col("id").as("n_id"), col("vec")), Seq("n_id"))
      .join(broadcast(queries.select(col("id").as("q_id"), col("vec").as("q_vec"))),
        Seq("q_id"))
      .withColumn("cos", cosine(col("q_vec"), col("vec")))
      .select(col("q_id"), col("n_id"), row_number().over(wFinal).as("rnk"))
      .filter(col("rnk") <= topK)
  }

  // ---- sampling / splits ---------------------------------------------

  /** Deterministic 1-in-`rate` systematic sample by id hash. */
  def systematicSample(df: DataFrame, idCol: String, rate: Int,
      seed: String = "sample"): DataFrame =
    df.filter(h60(concat(lit(s"$seed:"), col(idCol).cast("string"))) % rate === 0)

  /** Up to `perClass` rows per `strataCol` value, in deterministic hash
    * order. */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
      perClass: Int, seed: String = "strat"): DataFrame = {
    val w = Window.partitionBy(strataCol)
      .orderBy(h60(concat(lit(s"$seed:"), col(idCol).cast("string"))).asc,
        col(idCol).asc)
    df.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= perClass)
  }

  /** Reproducible percentage split: adds a `split` column (e.g. 80/10/10
    * => train/val/test) as a pure function of the id. */
  def trainValTestSplit(df: DataFrame, idCol: String, trainPct: Int = 80,
      valPct: Int = 10, seed: String = "split"): DataFrame =
    df.withColumn("b", h60(concat(lit(s"$seed:"), col(idCol).cast("string"))) % 100)
      .withColumn("split",
        when(col("b") < trainPct, "train")
          .when(col("b") < trainPct + valPct, "val").otherwise("test"))
      .drop("b")

  /** Domain-mixture resampling: re-weight classes to target rates, where
    * `ratesPct(class)` is copies-per-100-rows — 25 keeps a quarter of the
    * class, 100 passes it through, 150 emits every row once and every
    * second row twice (epoch-style oversampling). Copy counts are a pure
    * hash function of the row id, so the mixture is identical on any
    * cluster and any rerun; the op is a narrow generate (no shuffle). */
  def mixtureResample(df: DataFrame, idCol: String, classCol: String,
      ratesPct: Map[String, Int], seed: String = "mix"): DataFrame = {
    val rate = ratesPct.foldLeft(lit(0)) { case (acc, (cls, r)) =>
      when(col(classCol) === cls, lit(r)).otherwise(acc) }
    val h = h60(concat(lit(s"$seed:"), col(idCol).cast("string"))) % 100
    val copies = (rate / lit(100)).cast("int") +
      when(h < rate % 100, 1).otherwise(0)
    // sequence(1, 0) would DESCEND in Spark — guard the empty case
    df.withColumn("copy",
      explode(when(copies >= 1, sequence(lit(1), copies))
        .otherwise(array().cast("array<int>"))))
  }

  /** Deterministic global training-order shuffle, two-level so no single
    * task ever sees the whole dataset: rows hash into `buckets` shuffle
    * buckets, then rank by (hash, id) inside each bucket. Reading buckets
    * in (bucket, pos) order replays the exact same permutation anywhere;
    * one exchange on bucket, per-bucket window state only. */
  def shuffleOrder(df: DataFrame, idCol: String, buckets: Int,
      seed: String = "shuf"): DataFrame = {
    val h = h60(concat(lit(s"$seed:"), col(idCol).cast("string")))
    val w = Window.partitionBy("bucket").orderBy(col("h").asc, col(idCol).asc)
    df.withColumn("h", h)
      .withColumn("bucket", (col("h") % buckets).cast("int"))
      .withColumn("pos", row_number().over(w))
      .drop("h")
  }

  /** Next-fit sequence packing: lay rows end-to-end per hash bucket and
    * cut at `binTokens` boundaries (straddle allowed — how pretraining
    * packers batch). Adds bucket/bin/bin_offset; embarrassingly parallel
    * across buckets, one shuffle on bucket, no global sequential state. */
  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
      buckets: Int = 16, binTokens: Int = 256): DataFrame = {
    val w = Window.partitionBy("bucket").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("bucket", (col(idCol) % buckets).cast("int"))
      .withColumn("__cb", coalesce(sum(col(tokensCol)).over(w), lit(0L)))
      .withColumn("bin", floor(col("__cb") / binTokens).cast("int"))
      .withColumn("bin_offset", (col("__cb") % binTokens).cast("int"))
      .drop("__cb")
  }

  /** Fixed-window token chunking: split each doc's token stream into
    * consecutive `chunkTokens`-token sequences — the context-length prep
    * step before training. Narrow flatMap shape (no shuffle); documents
    * chunk independently so the operator parallelizes per row. */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("l"))
      .filter(size(col("l")) > 0)
      .select(col("doc_id"), col("l"),
        explode(sequence(lit(0),
          expr(s"(size(l) + ${chunkTokens - 1}) div $chunkTokens - 1").cast("int")))
          .as("chunk_no"))
      .select(col("doc_id"), col("chunk_no").cast("int").as("chunk_no"),
        least(size(col("l")) - col("chunk_no") * chunkTokens, lit(chunkTokens))
          .as("n_tokens"),
        concat_ws(" ", slice(col("l"), col("chunk_no") * chunkTokens + 1, lit(chunkTokens)))
          .as("chunk_text"))

  /** Z-order (Morton) key: interleave the low `bits` bits of two
    * non-negative int columns. Sorting/range-partitioning the table by
    * this key co-locates rows that are close in BOTH dimensions, so
    * min/max file statistics prune 2-D range predicates — the data-layout
    * lever for multi-dimensional scans at 100 TB. Pure integer
    * arithmetic, identical in any engine. */
  def zorderKey(x: Column, y: Column, bits: Int): Column =
    (0 until bits).map(i =>
      shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
      .reduce(_ + _)

  /** tf-idf top-`k` terms per doc, ranked by the rational tf*N/df score
    * (libm-free ordering), (score desc, term asc) tie-break. */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
    // tf rows are distinct (doc, term), so df = row count per term OVER
    // TF — deriving it there (instead of a second countDistinct pass over
    // the raw token stream) drops one full tokenize+explode scan and the
    // distinct-expansion shuffle. localCheckpoint: tf feeds both the df
    // aggregate and the score join.
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", (col("tf") * col("n")).cast("double") / col("df"))
      .select(col("doc_id"), col("term"), row_number().over(w).as("rnk"))
      .filter(col("rnk") <= k)
  }

  /** Greedy left-to-right single-pass BPE merge of adjacent pair
    * (`lhs`,`rhs`) columns into each row's `syms` array — the inner step
    * of [[bpeTrain]]. A fold where the merged symbol replaces the
    * accumulator's tail is exactly the greedy scan: an overlapping match
    * can only occur when lhs == rhs (a run of equal symbols), and after a
    * merge the new tail is lhs||rhs != lhs, so the fold never re-merges a
    * symbol it just produced — alternate pairs of the run merge, as
    * greedy does. Property-tested against a reference scan in
    * GraftPropertySpec. Narrow per-row op, no shuffle. */
  private def bpeMergeExpr: Column = expr(
    "aggregate(syms, cast(array() AS array<string>), (acc, x) -> " +
      "CASE WHEN size(acc) > 0 AND element_at(acc, -1) = lhs AND x = rhs " +
      "THEN concat(slice(acc, 1, size(acc) - 1), array(concat(lhs, rhs))) " +
      "ELSE concat(acc, array(x)) END)")

  /** [[bpeTrain]]'s merge step exposed for the property test: applies
    * one (`lhs`, `rhs`) rule to a `syms` array column. */
  def bpeMergeOnce(words: DataFrame, lhs: String, rhs: String): DataFrame =
    words.withColumn("lhs", lit(lhs)).withColumn("rhs", lit(rhs))
      .withColumn("syms", bpeMergeExpr).drop("lhs", "rhs")

  /** Distributed byte-pair-encoding vocabulary trainer (the
    * Sennrich-2016 merge loop): from a word-frequency table
    * `(w, cnt)`, learn `merges` merge rules. Each round counts all
    * adjacent symbol pairs weighted by word frequency, picks the most
    * frequent pair ((freq desc, lhs asc, rhs asc) full tie-break), and
    * merges it greedily left-to-right in every word. Returns
    * (rules `(step, lhs, rhs, freq)`, final segmentation
    * `(w, cnt, syms)`).
    *
    * Scale shape: the corpus is scanned ONCE (the caller's word-count
    * aggregate); the training loop runs on the distinct-vocab table —
    * bounded by vocabulary, not corpus size. Per round: one
    * pair-count shuffle on (lhs, rhs), a TakeOrdered(1) for the best
    * rule, and the rule broadcast back into a narrow per-word fold —
    * the driver holds no data, and `localCheckpoint` cuts the
    * per-round lineage exactly as [[kmeansFit]] does. At 100 TB the
    * vocab table is millions of rows and every stage stays keyed on
    * word or pair. */
  def bpeTrain(wordCounts: DataFrame, merges: Int): (DataFrame, DataFrame) = {
    var words = wordCounts.select(col("w"), col("cnt"),
      expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        .as("syms"))
      .localCheckpoint()
    var learned = Vector.empty[DataFrame]
    (1 to merges).foreach { t =>
      val best = words
        .select(col("cnt"), explode(expr(
          "transform(slice(syms, 1, size(syms) - 1), " +
            "(x, i) -> struct(x AS lhs, element_at(syms, i + 2) AS rhs))"))
          .as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum("cnt").as("freq"))
        .orderBy(col("freq").desc, col("lhs").asc, col("rhs").asc)
        .limit(1)
        .localCheckpoint()
      learned :+= best.withColumn("step", lit(t))
      words = words.crossJoin(broadcast(best.select("lhs", "rhs")))
        .withColumn("syms", bpeMergeExpr)
        .drop("lhs", "rhs")
        .localCheckpoint()
    }
    (learned.reduce(_.unionByName(_)).select("step", "lhs", "rhs", "freq"),
      words)
  }

  /** Systematic probability-proportional-to-size sampling: items are
    * laid out in a deterministic h60 order inside `buckets` hash
    * buckets, their weights cumulated, and an item is picked iff its
    * weight interval crosses a multiple of `step` — so selection
    * probability is proportional to weight (a doc twice as long is
    * twice as likely picked), with integer-exact floor-division
    * crossing tests. Per bucket, picked counts equal the bucket's
    * weight total div step (when weights stay below step). Emits every
    * row with `bucket`, `cum_before`, and the `picked` flag.
    *
    * Scale shape: the bucket hash spreads the cumsum windows so no
    * global ordering exists anywhere — the same two-level pattern as
    * [[packSequences]]/[[shuffleOrder]]; one shuffle on the bucket key,
    * no RNG, reproducible on any cluster layout. */
  def ppsSample(docs: DataFrame, idCol: String, weightCol: String,
      buckets: Int, step: Long): DataFrame = {
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("ok").asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col(idCol), col(weightCol),
        (h60(concat(lit("pps:"), col(idCol).cast("string"))) % buckets)
          .as("bucket"),
        h60(concat(lit("ppso:"), col(idCol).cast("string"))).as("ok"))
      .withColumn("cum_before",
        coalesce(sum(col(weightCol)).over(w), lit(0L)))
      .withColumn("picked", expr(
        s"(cum_before + $weightCol) div $step > cum_before div $step"))
      .drop("ok")
  }

  /** Ordered funnel: how far does each user get through `steps`, with
    * steps required IN ORDER (step k counts only strictly after the
    * user's earliest completion of step k-1)? Each step's earliest
    * position is a conditional min over the user's ranked event stream
    * (ordered by `orderCols` — pass a full unique tie-break), computed
    * stage by stage. Returns `(user, reached)` with reached in
    * 0..steps.length.
    *
    * Scale shape: ONE rank relation, pre-partitioned by user and
    * checkpointed; every stage is a partial-agg shuffle on the user key
    * that reuses that exchange, and per-user state is `steps.length`
    * ints — no sequence scan, no per-user arrays. */
  def funnel(ev: DataFrame, userCol: String, typeCol: String,
      steps: Seq[String], orderCols: Seq[Column]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val wp = Window.partitionBy(col(userCol)).orderBy(orderCols: _*)
    val pos = ev
      .select(col(userCol).as("user"), col(typeCol).as("etype"),
        row_number().over(wp).as("pos"))
      .repartition(col("user"))
      .localCheckpoint() // feeds every stage aggregate
    var stages = Vector(pos.groupBy("user")
      .agg(min(when(col("etype") === steps.head, col("pos"))).as("p1")))
    steps.zipWithIndex.drop(1).foreach { case (st, i) =>
      stages :+= pos.join(stages.last, "user").groupBy("user")
        .agg(min(when(col("etype") === st && col("pos") > col(s"p$i"),
          col("pos"))).as(s"p${i + 1}"))
    }
    var reached: Column = lit(0)
    steps.indices.foreach { i =>
      reached = when(col(s"p${i + 1}").isNotNull, i + 1).otherwise(reached)
    }
    stages.reduce(_.join(_, "user")).select(col("user"), reached.as("reached"))
  }

  /** Per-node triangle counts over an arbitrary edge list (any
    * direction, duplicates and self-loops tolerated — edges are
    * canonicalized first). Degree-ordered orientation (each edge
    * directed toward its higher (deg, id) endpoint) bounds every node's
    * out-degree near sqrt(m), so the wedge self-join on the center node
    * cannot blow up on hubs; each triangle is enumerated exactly once
    * from its lowest-ordered vertex, and the closure check is a pure
    * EQUI-join on the canonical (least, greatest) pair. Returns
    * `(node, n_tri)` for nodes in at least one triangle. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct().localCheckpoint() // feeds deg, orient, the closure join
    val deg = und.select(col("a").as("v"))
      .unionAll(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val lowFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val orient = und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .select(when(lowFirst, col("a")).otherwise(col("b")).as("s"),
        when(lowFirst, col("b")).otherwise(col("a")).as("t"))
      .localCheckpoint() // feeds both sides of the wedge self-join
    val wedges = orient.as("e1").join(orient.as("e2"),
        col("e1.s") === col("e2.s") && col("e2.t") > col("e1.t"))
      .select(col("e1.s").as("u"), col("e1.t").as("v"), col("e2.t").as("w"))
    val tris = wedges.join(und,
        und("a") === least(col("v"), col("w")) &&
          und("b") === greatest(col("v"), col("w")))
      .select("u", "v", "w").localCheckpoint() // feeds the 3-way union
    tris.select(col("u").as("node"))
      .unionAll(tris.select(col("v").as("node")))
      .unionAll(tris.select(col("w").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  }

  /** Token-budget-capped mixture: per `classCol` value, documents are
    * admitted in the deterministic h60("bud:"||id) shuffle order until
    * the class's `budget` of `weightCol` (e.g. token counts) fills; the
    * first document that would overflow the budget — and everything
    * after it — is marked not kept. Emits every row with its
    * `cum_before` running weight and the `kept` flag, so callers can
    * audit how full each class ran. One shuffle on the class key, no
    * RNG, reproducible on any cluster layout. */
  def budgetCap(docs: DataFrame, idCol: String, classCol: String,
      weightCol: String, budget: Long): DataFrame = {
    val key = h60(concat(lit("bud:"), col(idCol).cast("string")))
    val w = Window.partitionBy(col(classCol))
      .orderBy(key.asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col(idCol), col(classCol), col(weightCol))
      .withColumn("cum_before", coalesce(sum(col(weightCol)).over(w), lit(0L)))
      .withColumn("kept", col("cum_before") + col(weightCol) <= budget)
  }

  /** Fixed-point integer PageRank over an arbitrary edge list — the
    * canonical iterative MapReduce workload, in the deterministic
    * arithmetic this engine uses everywhere: ranks are BIGINTs scaled by
    * `scale`, every division is floor division, so any cluster (and the
    * DuckDB oracle) reproduces the ranks bit-for-bit — no float
    * accumulation order to pin. Update rule per round, damping 17/20:
    * `r'(v) = (3*scale) div 20 + (17 * sum_{u->v}(r(u) div deg(u))) div 20`.
    *
    * Scale shape: edges join degrees ONCE, get repartitioned by src and
    * checkpointed — each round then shuffles only the rank table (node-
    * sized) to the edge partitioning, aggregates contributions in one
    * edge-sized shuffle on dst (map-side partial sums first), and left-
    * joins back onto the checkpointed node list. Per-round lineage is
    * cut exactly as [[kmeansFit]] does; the driver holds no data. */
  def pagerank(nodes: DataFrame, edges: DataFrame, iters: Int,
      scale: Long): DataFrame =
    pagerankLoop(
      nodes.select(col("v"), lit(3 * scale / 20).as("tele"),
        lit(scale).as("r0")),
      edges, iters)

  /** Personalized (seeded) PageRank: same fixed-point loop, but the
    * teleport mass lands ONLY on the rows of `nodes` whose boolean
    * `seed` column is true (and the walk starts there: r0 = scale on
    * seeds, 0 elsewhere) — ranks measure proximity to the seed set
    * rather than global centrality. Identical scale shape to
    * [[pagerank]]. */
  def pagerankSeeded(nodes: DataFrame, edges: DataFrame, iters: Int,
      scale: Long): DataFrame =
    pagerankLoop(
      nodes.select(col("v"),
        when(col("seed"), lit(3 * scale / 20)).otherwise(lit(0L)).as("tele"),
        when(col("seed"), lit(scale)).otherwise(lit(0L)).as("r0")),
      edges, iters)

  /** The shared fixed-point rank loop: `nv` carries per-node teleport
    * mass and initial rank as columns, so uniform and personalized
    * variants are the same plan. */
  private def pagerankLoop(nodesTele: DataFrame, edges: DataFrame,
      iters: Int): DataFrame = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val e = edges.join(deg, "src").repartition(col("src")).localCheckpoint()
    val nv = nodesTele.repartition(col("v")).localCheckpoint()
    var r = nv.select(col("v"), col("r0").as("r"))
    (1 to iters).foreach { _ =>
      val inc = e.join(r, e("src") === r("v"))
        .select(col("dst").as("v"), expr("r div deg").as("contrib"))
        .groupBy("v").agg(sum("contrib").as("c"))
      r = nv.join(inc, Seq("v"), "left")
        .select(col("v"),
          (col("tele") + expr("(17 * coalesce(c, 0L)) div 20")).as("r"))
        .localCheckpoint()
    }
    r.select(col("v"), col("r").as("rank"))
  }

  /** Multi-source BFS: exact hop distance from the nearest seed, bounded
    * at `maxDepth` (unreached nodes are absent from the output). `nodes`
    * carries (v, seed: boolean); `edges` (src, dst), directed.
    *
    * Frontier-join rounds, the level-synchronous BFS that scales: round
    * d joins ONLY the frontier (nodes first discovered at d-1) against
    * the edge list — work per round is O(frontier out-edges), and the
    * anti-join against the discovered set keeps every node's distance
    * final the moment it is set (no min-relaxation rounds needed, unlike
    * Bellman-Ford). The discovered set grows monotonically and is
    * re-checkpointed per round so plans stay flat; the driver holds
    * DataFrame handles only, never node sets. Deterministic — no RNG,
    * no tie to break (hop counts are unique per node). */
  def bfs(nodes: DataFrame, edges: DataFrame, maxDepth: Int): DataFrame = {
    val e = edges.repartition(col("src")).localCheckpoint()
    var dist = nodes.filter(col("seed"))
      .select(col("v"), lit(0L).as("dist"))
      .repartition(col("v")).localCheckpoint()
    var frontier = dist
    (1 to maxDepth).foreach { depth =>
      val next = e.join(frontier.select("v"), e("src") === col("v"))
        .select(col("dst").as("v")).distinct()
        .join(dist, Seq("v"), "left_anti")
        .select(col("v"), lit(depth.toLong).as("dist"))
        .localCheckpoint()
      dist = dist.unionAll(next).localCheckpoint()
      frontier = next
    }
    dist
  }

  /** Bounded-round Bellman-Ford: cheapest weighted distance from the
    * seed set over paths of at most `rounds` edges. `nodes` carries
    * (v, seed: boolean); `edges` (src, dst, w: long), directed, parallel
    * edges legal (the min-fold absorbs them).
    *
    * Unlike [[bfs]] (hop metric — distances final on first discovery),
    * weighted distances can IMPROVE after discovery, so each round
    * relaxes every known distance through the edge list and min-folds:
    * one equi-join on src + one aggregate on dst per round, the same
    * shuffle shape as a pagerank round. The distance table is node-
    * sized; edges enter checkpointed and src-partitioned once. All-
    * integer weights — replay is bit-exact on any cluster. */
  def sssp(nodes: DataFrame, edges: DataFrame, rounds: Int): DataFrame = {
    val e = edges.repartition(col("src")).localCheckpoint()
    var dist = nodes.filter(col("seed"))
      .select(col("v"), lit(0L).as("dist"))
      .repartition(col("v")).localCheckpoint()
    (1 to rounds).foreach { _ =>
      val relax = e.join(dist, e("src") === dist("v"))
        .select(e("dst").as("v"), (col("dist") + col("w")).as("dist"))
      dist = dist.unionAll(relax)
        .groupBy("v").agg(min("dist").as("dist"))
        .localCheckpoint()
    }
    dist
  }

  /** [[sssp]] run to CONVERGENCE: Bellman-Ford rounds until no distance
    * is discovered or improved — the exact shortest-path fixpoint, for
    * when the path-length bound isn't known up front. Per round one
    * changed-count materializes on the driver (a scalar, the
    * [[dedupClusters]] precedent); each round's labels localCheckpoint
    * so no round re-plans prior rounds' lineage. Requires NON-NEGATIVE
    * weights (a negative cycle would improve forever — the classic
    * Bellman-Ford caveat; use the bounded [[sssp]] to probe such
    * graphs). Terminates in at most diameter+1 rounds, work per round
    * proportional to the reached set's out-edges. */
  def ssspConverged(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val e = edges.repartition(col("src")).localCheckpoint()
    var dist = nodes.filter(col("seed"))
      .select(col("v"), lit(0L).as("dist"))
      .repartition(col("v")).localCheckpoint()
    var changed = 1L
    while (changed > 0) {
      val relax = e.join(dist, e("src") === dist("v"))
        .select(e("dst").as("v"), (col("dist") + col("w")).as("dist"),
          lit(null).cast("long").as("old"))
      // self rows carry the previous distance through the min-fold, so
      // "changed" falls out of `next` alone: improved (dist < old) or
      // newly discovered (old null — no self row existed)
      val next = dist
        .select(col("v"), col("dist"), col("dist").as("old"))
        .unionAll(relax)
        .groupBy("v").agg(min("dist").as("dist"), min("old").as("old"))
        .localCheckpoint()
      changed = next.filter(col("old").isNull || col("dist") < col("old"))
        .count()
      dist = next.select("v", "dist")
    }
    dist
  }

  /** Canonical undirected edge list for the core routines: (least,
    * greatest) pairs, self-loops dropped, duplicates collapsed,
    * checkpointed because every peel round joins it twice. */
  /** Newman modularity of a community assignment `labels` (`(v, lbl)`)
    * over the undirected simple graph derived from `edges` (`(a, b)`
    * pairs; direction, duplicates and self-loops dropped) — the
    * partition-quality score that turns [[labelProp]]'s output into a
    * graded answer. EXACT integer arithmetic: with m undirected edges,
    * per-community intra-edge count e_c and degree sum d_c,
    * Q = sum_c (e_c/m - (d_c/2m)^2) = q_num / q_den for
    * q_num = sum_c (4*m*e_c - d_c^2) and q_den = 4*m^2 — emitted as the
    * two integers (no float division, no truncation-vs-floor hazard on
    * a negative Q). Returns the >= 2-member communities' rows
    * (community, n_members, e_intra, deg_sum) with the global
    * (n_communities, n_edges, q_num, q_den) broadcast onto each; the
    * sums RUN over every community, including singletons.
    *
    * Scale shape: two node-sized label joins onto the edge list (the
    * labelProp per-round shape), one map-side-combined aggregate per
    * relation, and 1-row totals crossed back by broadcast. */
  def modularity(labels: DataFrame, edges: DataFrame): DataFrame =
    modularityCtx(labels, undCtx(edges))

  /** A (v, lbl) frame that is ALREADY a materialized checkpoint (the
    * output contract of labelPropCtx / louvainMoveCtx /
    * communityMergeCtx) can be consumed as-is; anything else
    * re-materializes. Skipping the redundant re-checkpoint matters in
    * the multi-stage pipelines, where every stage's output used to be
    * materialized AGAIN by the next stage's entry — one full wasted
    * pass of the node-sized label table per stage (r18 measured the
    * sf0.1 wall of these latency-bound queries as ~0.3 s per
    * eliminated job). */
  private def labelsReady(df: DataFrame): Boolean =
    df.columns.sameElements(Array("v", "lbl")) &&
      org.apache.spark.sql.graftbridge.Bridge.isCheckpointedRdd(df)

  /** Exact Q NUMERATOR of a labeling over the shared context — the
    * 1-row BIGINT aggregate the multi-stage pipelines gate on
    * (identical by construction to [[modularityCtx]]'s q_num: the sum
    * runs over every community, including singletons; only the
    * per-community report and its checkpoints are skipped).
    *
    * Always exactly ONE row, matching the oracle's scalar `qcte`
    * aggregate — including for an all-singleton labeling, where the
    * pre-r18 formulation (modularityCtx + distinct over its
    * n_members >= 2 report) was EMPTY and thus diverged from the
    * declared oracle. The r18 change was an intentional alignment,
    * not just a job-count optimization. */
  private[graft] def qNumCtx(labels: DataFrame, ctx: UndCtx): DataFrame = {
    val und = ctx.und
    val lab = labels.select(col("v"), col("lbl"))
    val m = und.agg(count(lit(1)).as("m"))
    val comm = lab.join(ctx.deg, Seq("v"), "left")
      .select(col("lbl"), coalesce(col("deg"), lit(0L)).as("d"))
      .groupBy("lbl").agg(sum("d").as("deg_sum"))
    val intra = und
      .join(lab.select(col("v").as("a"), col("lbl").as("la")), Seq("a"))
      .join(lab.select(col("v").as("b"), col("lbl").as("lb")), Seq("b"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("e_intra"))
    comm.join(intra, Seq("lbl"), "left").crossJoin(broadcast(m))
      .agg(sum(expr("4 * m * coalesce(e_intra, 0L) - deg_sum * deg_sum"))
        .as("q_num"))
  }

  private[graft] def modularityCtx(labels: DataFrame,
      ctx: UndCtx): DataFrame = {
    val und = ctx.und
    val lab =
      if (labelsReady(labels)) labels
      else labels.select(col("v"), col("lbl")).localCheckpoint()
    val deg = ctx.deg.select(col("v").as("a"), col("deg").as("d"))
    val comm = lab.join(deg, lab("v") === deg("a"), "left")
      .select(col("lbl"), coalesce(col("d"), lit(0L)).as("d"))
      .groupBy("lbl")
      .agg(count(lit(1)).as("n_members"), sum("d").as("deg_sum"))
    val intra = und
      .join(lab.select(col("v").as("a"), col("lbl").as("la")), Seq("a"))
      .join(lab.select(col("v").as("b"), col("lbl").as("lb")), Seq("b"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("e_intra"))
    val m = und.agg(count(lit(1)).as("m"))
    val percomm = comm.join(intra, Seq("lbl"), "left")
      .select(col("lbl").as("community"), col("n_members"),
        coalesce(col("e_intra"), lit(0L)).as("e_intra"), col("deg_sum"))
      .localCheckpoint() // feeds the totals AND the filtered output
    val totals = percomm.crossJoin(broadcast(m))
      .agg(count(lit(1)).as("n_communities"), max("m").as("n_edges"),
        sum(expr("4 * m * e_intra - deg_sum * deg_sum")).as("q_num"),
        (max(col("m")) * max(col("m")) * lit(4L)).as("q_den"))
    percomm.filter(col("n_members") >= 2)
      .crossJoin(broadcast(totals))
  }

  /** One Louvain refinement LEVEL over an existing partition:
    * `rounds` synchronous half-sweeps of "move each node to the
    * neighbor community with the best modularity gain", every step in
    * the exact integers of [[modularity]] (gain scores and the Q
    * comparison are BIGINT numerators over the common 4m^2
    * denominator — no float anywhere, so any cluster and the DuckDB
    * oracle replay the moves bit-exactly).
    *
    * Per half-sweep r only the color class v % 2 == r % 2 may move
    * (the distributed-Louvain interleave that keeps simultaneous
    * moves from chasing each other); a node's candidates are its
    * neighbor communities plus staying put, scored by the exact gain
    * numerator 4m*k(v,c) - 2*deg(v)*tot(c without v); ties break to
    * the smallest community label. The sweep's proposed labeling is
    * then ACCEPTED only if its exact Q numerator strictly improves —
    * an in-plan 1-row broadcast gate (the accept/reject DECISION never
    * leaves the plan) — which makes Q(louvain) >= Q(seed) a theorem of
    * the operator (simultaneous moves alone cannot guarantee
    * monotonicity). The loop additionally stops scheduling sweeps once
    * two consecutive sweeps were non-accepts (r12 convergence ledger —
    * a local read of the already-materialized 1-row gate, the
    * dedupClusters while-convergence precedent; later sweeps are
    * provably the identity).
    *
    * Scale shape: per sweep one equi-join of the checkpointed
    * neighbor relation against the node-sized label table (k_vc), two
    * node-sized joins (deg, tot), a node-partitioned argmax window,
    * and at most two modularity aggregates (the gate's qNum is skipped
    * in-plan when the sweep proposed no move) — edge-linear, labels
    * re-checkpoint per sweep with their carried plan statistics CLAMPED
    * (Bridge.statsClamp: compounding size estimates wedge the driver
    * past ~10 rounds). */
  def louvainMove(labels: DataFrame, edges: DataFrame,
      rounds: Int = 2): DataFrame =
    louvainMoveCtx(labels, undCtx(edges), rounds)

  private[graft] def louvainMoveCtx(labels: DataFrame, ctx: UndCtx,
      rounds: Int = 2): DataFrame = {
    val und = ctx.und
    val nbr = ctx.nbr
    val deg = ctx.deg
    val m = und.agg(count(lit(1)).as("m"))
    def qNum(lab: DataFrame): DataFrame = {
      val comm = lab.join(deg, Seq("v"), "left")
        .select(col("lbl"), coalesce(col("deg"), lit(0L)).as("d"))
        .groupBy("lbl").agg(sum("d").as("deg_sum"))
      val intra = und
        .join(lab.select(col("v").as("a"), col("lbl").as("la")), Seq("a"))
        .join(lab.select(col("v").as("b"), col("lbl").as("lb")), Seq("b"))
        .filter(col("la") === col("lb"))
        .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("e_intra"))
      comm.join(intra, Seq("lbl"), "left").crossJoin(broadcast(m))
        .agg(sum(expr("4 * m * coalesce(e_intra, 0L) - deg_sum * deg_sum"))
          .as("q"))
    }
    var lab =
      if (labelsReady(labels)) labels
      else labels.select(col("v"), col("lbl"))
        .repartition(col("v")).loopCheckpoint()
    // Q(lab) THREADS through the loop as a checkpointed 1-row frame
    // instead of being recomputed by every gate: the gate needs
    // q_old = Q(current labels), which is exactly what the previous
    // gate already established — its q_new if the sweep was accepted,
    // its carried q_old if not. One qNum pass per round instead of
    // two; only the seed's Q is paid up front. Values are identical
    // by induction, so the oracle's stage-by-stage replay is unchanged.
    var qcur = qNum(lab).select(col("q").as("q_old")).loopCheckpoint()
    // Convergence ledger (r12): consecutive NON-ACCEPTED sweeps (no
    // move proposed, or strict-Q gate rejection — either way labels are
    // unchanged). TWO consecutive non-accepts cover both color classes
    // from an unchanged label state, so every later sweep is provably
    // the identity — the loop stops SCHEDULING them. The accept gate
    // itself stays in-plan (no driver branch decides correctness); the
    // ledger read is the dedupClusters while-convergence precedent, a
    // 1-row scalar off an already-materialized frame. An in-plan-only
    // variant (empty the movable set, let AQE propagate) was built and
    // REJECTED: sort-merge joins materialize BOTH children's shuffle
    // stages concurrently, so the edge-sized side still shuffles before
    // the empty side can kill the join (measured ~1k records per
    // "skipped" sweep). Fixed `rounds` stays the plan-size bound;
    // converged graphs stop paying for it.
    var stall = 0
    val w = Window.partitionBy("v")
      .orderBy(col("score").desc, col("nlbl").asc)
    (0 until rounds).takeWhile { r =>
      val mv = lab.filter(col("v") % 2 === (r % 2))
      val kvc = nbr.join(mv.select(col("v").as("a")), Seq("a"), "left_semi")
        .join(lab.select(col("v").as("b"), col("lbl").as("nlbl")), Seq("b"))
        .groupBy(col("a").as("v"), col("nlbl"))
        .agg(count(lit(1)).as("k"))
      // staying put is always a candidate — add a zero-k row when the
      // node has no neighbor inside its own community
      val cand = kvc.unionByName(
        mv.select(col("v"), col("lbl").as("nlbl"), lit(0L).as("k"))
          .join(kvc.select("v", "nlbl"), Seq("v", "nlbl"), "left_anti"))
      val tot = lab.join(deg, Seq("v"), "left")
        .select(col("lbl").as("nlbl"), coalesce(col("deg"), lit(0L)).as("d"))
        .groupBy("nlbl").agg(sum("d").as("tot"))
      val best = cand
        .join(mv.select(col("v"), col("lbl").as("cur")), Seq("v"))
        .join(deg, Seq("v"), "left")
        .join(tot, Seq("nlbl"))
        .crossJoin(broadcast(m))
        .withColumn("dv", coalesce(col("deg"), lit(0L)))
        .withColumn("tot_ex",
          when(col("nlbl") === col("cur"), col("tot") - col("dv"))
            .otherwise(col("tot")))
        .withColumn("score",
          lit(4L) * col("m") * col("k") - lit(2L) * col("dv") * col("tot_ex"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("v"), col("nlbl"), col("cur"))
        .loopCheckpoint() // feeds the proposal AND the move count
      // actual moves this sweep (node-sized); zero moves => proposal ==
      // lab, so the gate's edge-sized qNum can be skipped exactly then.
      // NOT checkpointed: `best` already is, so this 1-row aggregate
      // rides the gate's own materialization instead of costing a job.
      val moved = best.filter(col("nlbl") =!= col("cur"))
        .agg(count(lit(1)).as("n_moved"))
      val hasMoves = moved.select((col("n_moved") > 0).as("has_moves"))
      val proposed = lab.join(best.select("v", "nlbl"), Seq("v"), "left")
        .select(col("v"), coalesce(col("nlbl"), col("lbl")).as("lbl"))
        .loopCheckpoint()
      val proposedGated = proposed.crossJoin(broadcast(hasMoves))
        .filter(col("has_moves")).select("v", "lbl")
      // qNum over the EMPTY gated relation sums to NULL -> better
      // coalesces to false, the exact verdict a no-move sweep earned
      // before (q_new == q_old fails the strict gate)
      val gateFull = qNum(proposedGated).select(col("q").as("q_new"))
        .crossJoin(qcur)
        .select(coalesce(col("q_new") > col("q_old"), lit(false)).as("better"),
          col("q_new"), col("q_old"))
        .loopCheckpoint() // 1 row; feeds both the filter and next q_old
      val gate = gateFull.select("better")
      lab = proposed.crossJoin(broadcast(gate)).filter(col("better"))
        .select("v", "lbl")
        .unionByName(lab.crossJoin(broadcast(gate))
          .filter(!col("better")).select("v", "lbl"))
        .loopCheckpoint()
      qcur = gateFull.select(when(col("better"), col("q_new"))
        .otherwise(col("q_old")).as("q_old"))
      // a sweep is a no-op iff the gate did not accept (no moves
      // proposed OR strict-Q rejection — either way lab is unchanged);
      // gateFull is already materialized, so this is a local scalar
      // count (the dedupClusters while-convergence form)
      val accepted = gateFull.filter(col("better")).count() > 0
      stall = if (accepted) 0 else stall + 1
      stall < 2 // two consecutive non-accepts: every later sweep is identity
    }
    lab
  }

  /** Agglomerative community refinement (the Clauset-Newman-Moore
    * move): `rounds` synchronous rounds of merging connected community
    * PAIRS by exact modularity gain. For communities c1, c2 joined by
    * e12 edges, the merge's Q-numerator gain over the common 4m^2
    * denominator is the exact BIGINT
    *   dQ_num = 4m * e12 - 2 * d(c1) * d(c2)
    * (expand (d1+d2)^2 against 4m*(e1+e2+e12)). Each round selects the
    * MUTUAL-BEST pairs — c picks its argmax-gain partner (gain desc,
    * partner asc; positive gains only), and a pair merges iff both
    * picked each other — the deterministic parallel greedy matching.
    * Selected merges are DISJOINT by construction, so the round's
    * total gain is the sum of positive pair gains: Q strictly
    * increases whenever any merge fires, no accept gate needed (the
    * theorem [[louvainMove]]'s simultaneous node moves lack). Merged
    * communities take the smaller label.
    *
    * Scale shape: per round one edge-sized label-map join builds the
    * community multigraph (then everything is COMMUNITY-sized: gain
    * scores on the inter-community edge list, a community-partitioned
    * argmax window, a self-join for mutuality), labels re-checkpoint
    * with their carried plan statistics clamped (Bridge.statsClamp). A
    * zero-merge round is terminal — the round function is
    * deterministic in the labels, so the loop stops scheduling further
    * rounds on a local 1-row read of the materialized selection (r12
    * convergence ledger). [[louvainMove]] refines node placement; this
    * merges whole communities — the two moves compose into the
    * standard multi-level pipeline. */
  def communityMerge(labels: DataFrame, edges: DataFrame,
      rounds: Int = 2): DataFrame =
    communityMergeCtx(labels, undCtx(edges), rounds)

  private[graft] def communityMergeCtx(labels: DataFrame, ctx: UndCtx,
      rounds: Int = 2): DataFrame = {
    val und = ctx.und
    val deg = ctx.deg
    val m = und.agg(count(lit(1)).as("m"))
    var lab =
      if (labelsReady(labels)) labels
      else labels.select(col("v"), col("lbl"))
        .repartition(col("v")).loopCheckpoint()
    // Convergence ledger (r12): the merge round is ONE deterministic
    // function of the labels, so a single round selecting zero merges
    // proves every later round is the identity — the loop stops
    // SCHEDULING further rounds (the dedupClusters while-convergence
    // precedent: a local 1-row read off the already-materialized merge
    // selection; the merges themselves stay in-plan). Fixed `rounds`
    // stays the plan-size bound; converged graphs stop paying for it.
    val w = Window.partitionBy("c").orderBy(col("dq").desc, col("p").asc)
    (1 to rounds).takeWhile { _ =>
      val dC = lab.join(deg, Seq("v"), "left")
        .select(col("lbl"), coalesce(col("deg"), lit(0L)).as("d"))
        .groupBy("lbl").agg(sum("d").as("d"))
      val e12 = und
        .join(lab.select(col("v").as("a"), col("lbl").as("la")), Seq("a"))
        .join(lab.select(col("v").as("b"), col("lbl").as("lb")), Seq("b"))
        .filter(col("la") =!= col("lb"))
        .select(least(col("la"), col("lb")).as("c1"),
          greatest(col("la"), col("lb")).as("c2"))
        .groupBy("c1", "c2").agg(count(lit(1)).as("e12"))
      val gains = e12
        .join(dC.select(col("lbl").as("c1"), col("d").as("d1")), Seq("c1"))
        .join(dC.select(col("lbl").as("c2"), col("d").as("d2")), Seq("c2"))
        .crossJoin(broadcast(m))
        .select(col("c1"), col("c2"),
          (lit(4L) * col("m") * col("e12") - lit(2L) * col("d1") * col("d2"))
            .as("dq"))
        .filter(col("dq") > 0)
      val best = gains.select(col("c1").as("c"), col("c2").as("p"), col("dq"))
        .unionByName(gains.select(col("c2").as("c"), col("c1").as("p"), col("dq")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("c"), col("p"))
      val sel = best.as("x").join(best.as("y"),
          col("x.c") === col("y.p") && col("x.p") === col("y.c"))
        .select(least(col("x.c"), col("x.p")).as("keep"),
          greatest(col("x.c"), col("x.p")).as("drop"))
        .distinct()
        .loopCheckpoint() // feeds the relabel AND the convergence count
      lab = lab.join(sel.select(col("drop").as("lbl"), col("keep")),
          Seq("lbl"), "left")
        .select(col("v"), coalesce(col("keep"), col("lbl")).as("lbl"))
        .loopCheckpoint()
      // sel is already materialized — a zero-merge round is terminal
      sel.limit(1).count() > 0
    }
    lab
  }

  private def undirected(edges: DataFrame): DataFrame =
    edges
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct().localCheckpoint()

  /** Derived-once undirected graph context: the canonical edge set, its
    * two-direction neighbor relation, and per-node degrees — each
    * materialized exactly once. A multi-stage community pipeline
    * (seed -> refine -> score) built from the single-call public APIs
    * re-derives this trio inside EVERY call (3-4 distinct/union/agg
    * materializations of the same edge relation per query — the same
    * waste at 100 TB, where each re-derive is a full shuffle of the
    * edge set). The Ctx variants below share one derivation; the
    * public single-call signatures delegate through them, so values
    * are identical by construction. */
  private[graft] final class UndCtx(val und: DataFrame, val nbr: DataFrame) {
    /** per-node degrees — materialized once, on first use (localCheckpoint
      * is eager, and labelProp-only callers never need degrees) */
    lazy val deg: DataFrame =
      nbr.groupBy(col("a").as("v")).agg(count(lit(1)).as("deg"))
        .localCheckpoint()
  }

  private[graft] def undCtx(edges: DataFrame): UndCtx = {
    val u = undirected(edges)
    new UndCtx(u, neighbors(u))
  }

  /** both directions of the distinct undirected edge set — the neighbor
    * relation labelProp and linkPredict iterate over, checkpointed */
  private def neighbors(und: DataFrame): DataFrame =
    und.union(und.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()

  /** One synchronous peel: edges with both endpoints alive, degrees over
    * their endpoint multiset, survivors with degree — callers filter. */
  private def liveDegrees(und: DataFrame, alive: DataFrame): DataFrame = {
    val live = und
      .join(alive.select(col("v").as("a")), Seq("a"), "left_semi")
      .join(alive.select(col("v").as("b")), Seq("b"), "left_semi")
    live.select(col("a").as("v")).unionAll(live.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
  }

  /** Bounded k-core peel: `rounds` synchronous rounds of "drop every
    * node with fewer than k neighbors among the still-alive", starting
    * from all of `nodes` (column v). Returns the survivors with their
    * degree RESTRICTED to the survivor set (`core_deg`, 0 for a survivor
    * whose neighbors all dropped this round). Deterministic integer
    * arithmetic — a fixed round count replays bit-exactly anywhere,
    * which is what the oracle-checked registry entry uses; [[kcore]] is
    * the run-to-fixpoint variant.
    *
    * Scale shape: each round is two semi-joins of the (checkpointed)
    * edge list against the node-sized alive set plus one map-side-
    * combined degree aggregate — work per round is proportional to the
    * still-live edge set, which only shrinks. The alive set re-
    * checkpoints per round so no round re-plans prior lineage; the
    * driver holds DataFrame handles only. */
  def kcorePeel(nodes: DataFrame, edges: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    val und = undirected(edges)
    var alive = nodes.select("v").repartition(col("v")).localCheckpoint()
    (1 to rounds).foreach { _ =>
      alive = liveDegrees(und, alive).filter(col("deg") >= k)
        .select("v").localCheckpoint()
    }
    alive.join(liveDegrees(und, alive), Seq("v"), "left")
      .select(col("v"), coalesce(col("deg"), lit(0L)).as("core_deg"))
  }

  /** [[kcorePeel]] run to CONVERGENCE: peel until no node drops — the
    * exact k-core (maximal subgraph of minimum degree k; empty when the
    * graph erodes completely). Per round one alive-count materializes on
    * the driver (a scalar — the [[ssspConverged]] precedent); terminates
    * in at most |V| rounds, in practice the peel depth of the degeneracy
    * ordering. Every survivor's `core_deg` is >= k by definition of the
    * fixpoint (spec-asserted). */
  def kcore(nodes: DataFrame, edges: DataFrame, k: Int): DataFrame = {
    val und = undirected(edges)
    var alive = nodes.select("v").repartition(col("v")).localCheckpoint()
    var n = alive.count()
    var done = false
    while (!done && n > 0) {
      val next = liveDegrees(und, alive).filter(col("deg") >= k)
        .select("v").localCheckpoint()
      val m = next.count()
      done = m == n
      alive = next
      n = m
    }
    alive.join(liveDegrees(und, alive), Seq("v"), "left")
      .select(col("v"), coalesce(col("deg"), lit(0L)).as("core_deg"))
  }

  /** Synchronous label propagation (community detection): every node
    * starts in its own community; each round every node adopts the most
    * frequent label among its distinct undirected neighbors (ties →
    * smallest label; isolated nodes keep their own). Deterministic by
    * construction — the synchronous schedule plus the total (count desc,
    * label asc) tie-break remove the order-dependence that makes
    * asynchronous LPA non-reproducible, so an oracle can replay the
    * rounds exactly.
    *
    * Scale shape: per round ONE equi join of the checkpointed neighbor
    * relation against the node-sized label table, a map-side-combined
    * (node, label) count, and a node-partitioned argmax window — work is
    * edge-linear per round, labels re-checkpoint so no round re-plans
    * prior lineage. */
  def labelProp(nodes: DataFrame, edges: DataFrame, rounds: Int): DataFrame =
    labelPropCtx(nodes, undCtx(edges), rounds)

  private[graft] def labelPropCtx(nodes: DataFrame, ctx: UndCtx,
      rounds: Int): DataFrame = {
    val nbr = ctx.nbr
    var lab = nodes.select(col("v"), col("v").as("lbl"))
      .repartition(col("v")).localCheckpoint()
    val w = Window.partitionBy("v").orderBy(col("c").desc, col("lbl").asc)
    (1 to rounds).foreach { _ =>
      val best = nbr
        .join(lab.select(col("v").as("b"), col("lbl")), Seq("b"))
        .groupBy(col("a").as("v"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("v"), col("lbl").as("nlbl"))
      lab = lab.join(best, Seq("v"), "left")
        .select(col("v"), coalesce(col("nlbl"), col("lbl")).as("lbl"))
        .loopCheckpoint()
    }
    lab
  }

  /** Link prediction by neighborhood overlap: for every NON-adjacent
    * node pair with at least `minCommon` shared neighbors, the
    * common-neighbor count and neighborhood Jaccard — the classic
    * "who should be connected" graph-ML primitive. Candidates come
    * from the wedge equi-join (pairs THROUGH a shared neighbor — work
    * is sum of squared degrees, never all pairs), existing edges drop
    * by an anti-join against the undirected edge set, and the score
    * divides exact longs once.
    *
    * Scale shape: one self-equi-join of the checkpointed neighbor
    * relation on the shared-neighbor key + two node-sized degree
    * joins. Hub nodes quadratically inflate their wedge count — the
    * join's work is sum over nodes of deg² — and the triangleCounts
    * orientation trick cannot apply because both endpoints of a
    * candidate pair are OUTPUT, not enumerated. `maxDegree` bounds the
    * blow-up BY CONSTRUCTION: every node above it contributes only a
    * deterministic h60-keyed sample of `maxDegree` adjacency rows
    * (uniform pseudo-random under the portable hash — both engines and
    * any cluster layout pick the identical sample), capping per-node
    * wedge work at maxDegree². The default keeps the exact semantics;
    * at web scale pass e.g. maxDegree = 1000, after which scores are
    * computed over the sampled adjacency (exact for every pair whose
    * endpoints AND shared neighbors all sit at or under the cap —
    * property-pinned in GraftPropertySpec). */
  def linkPredict(edges: DataFrame, minCommon: Int,
      maxDegree: Int = Int.MaxValue): DataFrame = {
    val und = undirected(edges)
    val nbrAll = neighbors(und)
    val nbr = if (maxDegree == Int.MaxValue) nbrAll else {
      val w = Window.partitionBy("a").orderBy(
        h60(concat(col("a"), lit(">"), col("b"))).asc, col("b").asc)
      nbrAll.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= maxDegree).drop("rn")
    }
    val deg = nbr.groupBy(col("a").as("v")).agg(count(lit(1)).as("deg"))
    val wedges = nbr.select(col("a").as("u"), col("b").as("x"))
      .join(nbr.select(col("a").as("u"), col("b").as("y")), Seq("u"))
      .filter(col("x") < col("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
    wedges
      .join(und, wedges("x") === und("a") && wedges("y") === und("b"),
        "left_anti")
      .join(deg.select(col("v").as("x"), col("deg").as("deg_a")), Seq("x"))
      .join(deg.select(col("v").as("y"), col("deg").as("deg_b")), Seq("y"))
      .select(col("x").as("node_a"), col("y").as("node_b"), col("common"),
        (col("common").cast("double") /
          (col("deg_a") + col("deg_b") - col("common"))).as("jaccard"))
  }

  /** Functional-dependency candidate check (the TANE/Metanome profiling
    * primitive): for each `(lhs, rhs)` candidate over `df`, whether
    * lhs -> rhs holds — no lhs value maps to two distinct rhs values —
    * plus the lhs cardinality and how many lhs values violate. Each
    * candidate costs one keys-only two-stage aggregate (per-lhs
    * distinct-rhs count, then one row); nothing row-sized crosses an
    * exchange, so candidates price by their distinct-pair count, not
    * the table. Checkpoint `df` first when checking many candidates
    * over a computed view. */
  def fdCheck(df: DataFrame, cands: Seq[(String, String)]): DataFrame = {
    require(cands.nonEmpty,
      "fdCheck needs at least one (lhs, rhs) candidate pair")
    cands.map { case (a, b) =>
      df.groupBy(a).agg(count_distinct(col(b)).as("ndb"))
        .agg(count(lit(1)).as("n_lhs"),
          sum(when(col("ndb") > 1, 1L).otherwise(0L)).as("n_violating_lhs"))
        .select(lit(s"$a->$b").as("fd"), col("n_lhs"),
          col("n_violating_lhs"), (col("n_violating_lhs") === 0L).as("holds"))
    }.reduce(_.unionAll(_))
  }

  /** Per-chunk bloom index over `keyCol` (the Parquet-column-bloom /
    * Iceberg-puffin shape): each chunk's DISTINCT keys hash into a
    * `words` x 63-bit filter under `k` h60 hash functions, returning
    * `(chunk, word, bits)` rows — at most `words` longs per chunk,
    * built by one distinct + one map-side-combined bit_or aggregate.
    * Size `words` to the chunk's distinct-key budget (~1.5 bits/key/
    * hash keeps the false-positive rate useful).
    *
    * The geometry `(words, k)` RIDES THE INDEX as the `bf_words`/`bf_k`
    * columns, and [[bloomCandidates]] derives its probe parameters from
    * them — a probe can never run under a mismatched geometry, which
    * would silently produce false NEGATIVES (a bit hashed with the
    * wrong modulus lands in the wrong word and the `hits = k` filter
    * drops a true chunk). Two ints per (chunk, word) row is noise next
    * to the 8-byte bitmap word. */
  def bloomChunkIndex(df: DataFrame, chunkCol: Column, keyCol: Column,
      words: Int = 16, k: Int = 3): DataFrame = {
    val positions = words * 63
    df.select(chunkCol.as("chunk"), keyCol.as("key")).distinct()
      .select(col("chunk"), explode(sequence(lit(0), lit(k - 1))).as("i"),
        col("key"))
      .select(col("chunk"),
        (h60(concat(lit("bl"), col("i"), lit(":"), col("key"))) % positions)
          .as("p"))
      .select(col("chunk"), expr("p div 63").as("word"),
        expr("shiftleft(1L, cast(p % 63 as int))").as("m"))
      .groupBy("chunk", "word").agg(expr("bit_or(m)").as("bits"))
      .withColumn("bf_words", lit(words))
      .withColumn("bf_k", lit(k))
  }

  /** Probe a [[bloomChunkIndex]]: the chunks that may contain each of
    * `probes`' keys (column `pk`) — every true chunk is returned (a
    * bloom cannot clear a bit it set), false positives are possible.
    * The probe-position table is tiny (|probes| * k rows) and
    * broadcasts against the chunk-sized index.
    *
    * Probe geometry comes FROM the index's own `bf_words`/`bf_k`
    * columns (one broadcast 1-row aggregate), so the hash positions are
    * by construction the ones the build used; there is no parameter a
    * caller could mismatch into silent false negatives. A caller COULD
    * union indexes built with different geometries — then max() would
    * silently mix parameters and reintroduce exactly that failure, so
    * the aggregate also takes min() and an `assert_true` riding the
    * probe-position expression fails the job loudly unless
    * min == max for both knobs. */
  def bloomCandidates(index: DataFrame, probes: DataFrame): DataFrame = {
    val geom = index.agg(
      max("bf_words").as("bf_words"), max("bf_k").as("bf_k"),
      min("bf_words").as("w_min"), min("bf_k").as("k_min"))
    // evaluates to NULL (then 0) on a constant geometry; throws on a
    // mixed one — folded into `positions` so pruning can't drop it
    val geomOk = coalesce(
      assert_true(
        col("bf_words") === col("w_min") && col("bf_k") === col("k_min"),
        lit("bloomCandidates: index mixes bloom geometries " +
          "(bf_words/bf_k not constant — rebuild with one geometry " +
          "or probe each index separately)")).cast("int"),
      lit(0))
    val ppos = probes
      .crossJoin(broadcast(geom))
      .select(col("pk"), col("bf_k"),
        explode(sequence(lit(0), col("bf_k") - 1)).as("i"),
        (col("bf_words") * 63 + geomOk).as("positions"))
      .select(col("pk"), col("bf_k"),
        (h60(concat(lit("bl"), col("i"), lit(":"), col("pk"))) % col("positions"))
          .as("p"))
    broadcast(ppos)
      .join(index.drop("bf_words", "bf_k"), expr("word = p div 63") &&
        expr("((bits >> cast(p % 63 as int)) & 1) = 1"))
      .groupBy("pk", "chunk", "bf_k").agg(count(lit(1)).as("hits"))
      .filter(col("hits") === col("bf_k"))
      .select("pk", "chunk")
  }

  /** 2-D skyline (Pareto frontier, both dimensions maximized): the rows
    * no other row dominates, where q dominates p iff q >= p in both
    * columns and q > p in at least one. Vector-equal duplicates all
    * survive (neither dominates the other).
    *
    * Scale shape — NO pairwise comparison and NO global window:
    *  1. grain reduction: per distinct `x`, the max `y` (one map-side-
    *     combined shuffle on x) — a row can only be in the skyline if it
    *     holds its x's maximum, and dominance between rows reduces to
    *     dominance between (x, ymax) points;
    *  2. the (x, ymax) table (bounded by distinct-x, e.g. days) range-
    *     buckets on x, and "max y over all strictly-greater x" is the
    *     two-level suffix max: a per-bucket exclusive running max under
    *     a bucket-partitioned window PLUS the carry from higher buckets
    *     (a `buckets`²-row self-theta-join on the per-bucket maxes —
    *     constant-size, broadcast);
    *  3. a day survives iff no strictly-later x reaches its ymax; the
    *     survivors (a handful) broadcast-semi-join back to the input on
    *     (x, y = ymax) to emit the original rows.
    * Everything shuffles on x or on the constant bucket key; the input
    * is scanned twice (grain agg + final semi-join) and never sorted
    * globally. Timestamp `xCol`s bucket via their microsecond epoch;
    * anything else must be castable to long. */
  def skyline2d(df: DataFrame, xCol: String, yCol: String,
      buckets: Int = 64): DataFrame = {
    val grain = df.groupBy(col(xCol).as("sx"))
      .agg(max(col(yCol)).as("ymax"))
      .localCheckpoint() // feeds bounds, bucket maxes, and the scan below
    // order-preserving numeric image of x for range bucketing
    val xnum = grain.schema("sx").dataType match {
      case _: org.apache.spark.sql.types.TimestampType => unix_micros(col("sx"))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col("sx").cast("timestamp"))
      case _: org.apache.spark.sql.types.DateType => unix_date(col("sx"))
      case _ => col("sx").cast("long")
    }
    // range-bucket bounds: one tiny aggregate, broadcast by crossJoin
    val bounds = grain.agg(min(xnum).as("xlo"), max(xnum).as("xhi"))
    val bucketed = grain.crossJoin(broadcast(bounds))
      .withColumn("xn", xnum)
      .withColumn("b",
        expr(s"cast(((xn - xlo) * $buckets) div (xhi - xlo + 1) as int)"))
      .drop("xlo", "xhi", "xn")
    // carry(b) = max ymax over buckets strictly above b (theta join on
    // the buckets-sized per-bucket max table; left join keeps the top
    // bucket with a null carry)
    val bmax = bucketed.groupBy("b").agg(max("ymax").as("bymax"))
    val carry = bmax.select(col("b").as("cb"))
      .join(bmax.select(col("b").as("hb"), col("bymax")), col("hb") > col("cb"), "left")
      .groupBy("cb").agg(max("bymax").as("carry"))
    // within-bucket exclusive suffix max over x desc + the cross-bucket
    // carry; survive iff nothing strictly later reaches ymax
    val wSuffix = Window.partitionBy("b")
      .orderBy(col("sx").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val survivors = bucketed
      .join(broadcast(carry), col("b") === col("cb"), "left")
      .withColumn("later", greatest(
        max(col("ymax")).over(wSuffix), col("carry")))
      .filter(col("later").isNull || col("later") < col("ymax"))
      .select(col("sx"), col("ymax"))
    df.join(broadcast(survivors),
      col(xCol) === col("sx") && col(yCol) === col("ymax"), "leftsemi")
  }

  /** Edit-distance-1 similarity join (FastSS / symmetric-delete
    * blocking): all pairs with Levenshtein distance <= 1, emitted as
    * `(id_a, id_b, dist)` with id_a < id_b. Complete by construction:
    * two strings at distance <= 1 always share a blocking key — equal
    * strings share the string itself; a substitution at position i
    * makes both sides' delete-at-i variants equal; an insertion's
    * delete-at-the-inserted-position variant IS the shorter string,
    * which carries itself as a key. Levenshtein re-verifies every
    * candidate, so blocking false positives never reach the output.
    *
    * Scale shape: keys per string = length + 1 (bounded), candidates
    * arise from ONE equi self-join on the key — never a cross join —
    * and the verify step is a codegen'd levenshtein on the candidate
    * set only. The classic typo-dedup primitive for a curation
    * pipeline. */
  def editNeighbors(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    val keyed = df
      .select(col(idCol).as("id"), col(strCol).as("s"))
      .select(col("id"), col("s"), explode(concat(
        array(col("s")),
        expr("transform(sequence(1, length(s)), i -> " +
          "concat(substring(s, 1, i - 1), substring(s, i + 1, length(s) - i)))")))
        .as("k"))
      // deleting any of a run of equal characters yields the SAME variant
      // (e.g. each leading zero of a padded number) — dedupe (id, k) or
      // every such self-collision multiplies the candidate join
      .distinct()
      .localCheckpoint() // both sides of the self-join, one scan
    // candidates dedupe as BARE ID PAIRS (a shared key multiplies a true
    // pair up to length+1 times — shuffling two longs per duplicate
    // instead of two strings is what keeps the distinct cheap); the
    // strings join back from the dimension-sized (id, s) relation only
    // for the levenshtein verify on the deduped set.
    val pairs = keyed.select(col("k"), col("id").as("id_a"))
      .join(keyed.select(col("k"), col("id").as("id_b")), Seq("k"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val names = keyed.select("id", "s").distinct()
    pairs
      .join(names.select(col("id").as("id_a"), col("s").as("s_a")), Seq("id_a"))
      .join(names.select(col("id").as("id_b"), col("s").as("s_b")), Seq("id_b"))
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist") <= 1)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }
}
