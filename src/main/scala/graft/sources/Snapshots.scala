package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{Bridge, ManifestFile}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal snapshot/time-travel table format — the atomic-commit rung
  * the layout family (zorder, zonemaps, bloom skip, partition prune,
  * compaction, backfill) stops short of, and what a 100 TB curation
  * pipeline uses daily: read-at-version while writers rewrite.
  *
  * Layout (all paths under one table dir, any Hadoop FileSystem):
  *   data/v%08d_<nonce>/<part>=<val>/part-N.parquet   immutable data dirs,
  *     PER-WRITER UNIQUE (racers for one version write disjoint dirs and
  *     collide only at the manifest rename; a loser's orphan dir is
  *     referenced by no manifest and retired by the next vacuum)
  *   _manifests/v%08d.txt                immutable manifest (format below)
  *   _manifests/_latest_hint             ADVISORY latest-version hint
  *   _manifests/_floor                   vacuum retention floor (atomic-replace)
  *
  * Manifest format — ONE LINE PER DATA FILE (the Delta add-action grain,
  * promoted from per-partition in r15 so rewrites can target files):
  *   #schema<TAB><json>          the data files' READ schema (partCol excluded)
  *   #meta<TAB>ts=<epochMillis>  commit wall-clock (timestamp time travel)
  *   value<TAB>filePath<TAB>bytes<TAB>dataVersion<TAB>stats
  * `bytes` is the file's exact length recorded when the immutable file was
  * written — never re-listed. `dataVersion` is the version whose commit
  * last CHANGED this file's rows: commit/replace/merge stamp the new
  * version; [[optimize]] (content-preserving compaction) CARRIES the
  * replaced files' stamp — the `dataChange=false` add-action real formats
  * record, which lets [[diff]] suppress no-op compactions from the change
  * feed by metadata alone. `stats` is "-" or `col=lo,hi;...` per-file
  * column bounds (percent-encoded; see [[StatCodec]]) — the zonemap/file-
  * skipping layer: the planner's data filters prune FILES against these
  * bounds before any byte is read ([[ManifestFile]]), and [[merge]] picks
  * its rewrite set from them. Header + per-file stats make everything
  * O(small manifest read): a read plans with ZERO parquet-footer reads
  * and ZERO directory listings, a commit that would mix file schemas
  * fails loudly AT COMMIT TIME, and [[optimize]]/[[merge]] pick their
  * rewrite candidates from metadata alone.
  *
  * The invariants that make it a table format rather than a directory
  * convention:
  *   1. Data and manifest files are IMMUTABLE once written (data goes
  *      to a fresh per-writer data dir under mode("error"); the manifest rename
  *      refuses to overwrite) — so any version, once committed, reads
  *      the same bytes forever — until [[vacuum]] retires versions
  *      older than the retention window (referenced files survive).
  *   2. The manifest rename IS the commit point: tmp + atomic rename,
  *      so a version either exists complete or not at all. Version
  *      discovery lists `_manifests` (a handful of small files) — no
  *      mutable pointer file ON THE CORRECTNESS PATH, hence no window
  *      where the table looks empty mid-swap. A reader that resolved
  *      version N plans its scan from that immutable manifest and is
  *      untouched by any number of later commits.
  *   3. Writers are optimistic: two concurrent commits race to CREATE
  *      the SAME manifest name; the loser fails loudly instead of
  *      silently clobbering. The atomic create-or-refuse primitive is
  *      the [[CommitPoint]] trait, per filesystem class: HDFS rename
  *      (atomic, refuses an existing target); LOCAL filesystems link(2)
  *      — POSIX rename(2) REPLACES an existing target, and the
  *      thread-race fuzz actually LOST a committed version to that
  *      window before the hard-link commit point closed it; object
  *      stores ONE conditional PUT (S3 If-None-Match / GCS
  *      ifGenerationMatch=0 — client injected, protocol fuzz-tested
  *      against a fake store).
  *
  * SCHEMA CONTRACT (evolution supported since r15): the partition column
  * is a StringType for the table's lifetime (asserted at commit —
  * partition values travel through directory names and manifest lines as
  * strings, so a non-string partition column would silently come back
  * re-typed). Each manifest records ITS version's read schema, so a
  * time-travel read serves the schema that version had. A commit that
  * carries older files ([[commitReplace]], [[merge]], [[optimize]]) may
  * ADD columns — carried files lack them and read back as NULL (the
  * parquet missing-column semantics, the add-column evolution every real
  * format supports) — but a TYPE CHANGE or COLUMN DROP against carried
  * files is REFUSED at commit (one version must never mix conflicting
  * file schemas); those require a full-snapshot [[commit]], which may
  * reshape the schema freely (every file rewritten under it). Column
  * order and nullability (nested included) are outside the contract —
  * parquet resolves by name, and headers are recorded nullability-widened
  * so a carried file's real NULLs can never be folded away.
  *
  * [[commitReplace]] is the partition-grain scale story: a rewrite
  * re-lists UNTOUCHED partitions' existing files in the new manifest
  * instead of rewriting them. [[merge]] is the FILE-grain one: the
  * rewrite set is the files whose recorded key bounds may hold a delta
  * key — untouched files of the SAME partition carry by reference, so a
  * MERGE touching 1% of a partition's rows rewrites ~1% of its files
  * (given key-clustered files; see [[optimize]]'s clusterBy), not the
  * partition. [[optimize]] (compaction-as-version) lands through the
  * same commit shape, so every maintenance operation is an atomic
  * version and old versions keep reading the same immutable files.
  *
  * METADATA COST BOUNDS (the long-history story — a streaming sink
  * commits one version per micro-batch): [[currentVersion]] is O(1) FS
  * calls via the `_latest_hint` fast path (read hint, verify, probe
  * forward past any commits that raced the hint write) with a one-listing
  * fallback when the hint is missing/torn/retired — the hint is ADVISORY,
  * never load-bearing, like a real format's `_last_checkpoint`.
  * [[vacuum]] does ONE `_manifests` listing plus one small manifest read
  * per KEPT version — never an exists-probe per historical version.
  * [[versionAt]] (timestamp resolution) reads each surviving manifest's
  * one-line meta header — O(live versions) small reads, the shape real
  * formats bound with checkpoint files once histories reach 10^5.
  */
object Snapshots {

  private def fsOf(s: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def manifestPath(dir: String, v: Long): Path =
    new Path(dir, f"_manifests/v$v%08d.txt")

  private def hintPath(dir: String): Path =
    new Path(dir, "_manifests/_latest_hint")

  private def readSmall(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, "UTF-8")
    } finally in.close()
  }

  /** every committed version still present, ascending — ONE dir listing */
  private def listVersions(fs: FileSystem, dir: String): Seq[Long] = {
    val md = new Path(dir, "_manifests")
    if (!fs.exists(md)) Seq.empty
    else fs.listStatus(md).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".txt"))
      .map(_.stripPrefix("v").stripSuffix(".txt").toLong)
      .sorted
  }

  /** The latest committed version (0 = none). Fast path: the advisory
    * `_latest_hint` + a forward probe (hint is written AFTER a successful
    * commit, so hint <= latest always; the probe absorbs hint writes that
    * lost a race) — O(1) FS calls on the steady path regardless of
    * history length. Any hint defect (missing, torn write, pointing at a
    * vacuum-retired version) falls back to one `_manifests` listing; the
    * hint never decides correctness. */
  def currentVersion(s: SparkSession, dir: String): Long = {
    val fs = fsOf(s, dir)
    val hinted =
      try {
        val hp = hintPath(dir)
        if (!fs.exists(hp)) None
        else {
          val v = readSmall(fs, hp).trim.toLong
          if (v >= 1 && fs.exists(manifestPath(dir, v))) {
            var cur = v
            while (fs.exists(manifestPath(dir, cur + 1))) cur += 1
            Some(cur)
          } else None
        }
      } catch { case _: Exception => None }
    hinted.getOrElse(listVersions(fs, dir).lastOption.getOrElse(0L))
  }

  /** Resolve a wall-clock timestamp to a version: the LATEST version
    * whose recorded commit time is <= `tsMillis` (Delta's
    * `timestampAsOf` rule). Commit times come from each manifest's
    * `#meta ts=` header, read HEADER-ONLY (headers are a prefix of the
    * file; the reader stops at the first entry line), so resolution is
    * O(live versions) small reads regardless of table size; versions
    * retired by [[vacuum]] are not resolvable (same as any read below
    * the retention window). Fails loudly when every surviving version
    * is newer than the asked time. */
  def versionAt(s: SparkSession, dir: String, tsMillis: Long): Long = {
    val fs = fsOf(s, dir)
    val vs = listVersions(fs, dir)
    require(vs.nonEmpty, s"Snapshots: no committed version to read at $dir")
    val at = vs.filter(v =>
      readHeaderTs(fs, manifestPath(dir, v)).exists(_ <= tsMillis))
    require(at.nonEmpty,
      s"Snapshots: no version committed at or before ts=$tsMillis at $dir " +
        s"(earliest surviving version is ${vs.min})")
    at.max
  }

  /** the `#meta ts=` header alone — reads the manifest's '#'-prefixed
    * PREFIX and stops at the first entry line, never the file list */
  private def readHeaderTs(fs: FileSystem, p: Path): Option[Long] =
    readHeaderMeta(fs, p)._1

  /** every committed version still present (post-vacuum), ascending —
    * what the change-feed source steps through */
  private[graft] def liveVersions(s: SparkSession, dir: String): Seq[Long] =
    listVersions(fsOf(s, dir), dir)

  /** Highest manifest reader version this build understands. 1 = the
    * base file-grain format; 2 = deletion-vector entry refs (the 6th
    * tab field); 3 = typed/multi-column partition identity (the
    * `partCol=` header holds a [[PartSpec]] spec string and entry
    * values may be compound). A commit stamps `minReader=N` in its meta
    * header for the highest feature its version uses, and the parser
    * refuses a higher `minReader` with a pointed upgrade error before
    * touching entries. */
  private[graft] val SupportedReaderVersion = 3L

  /** ` minReader=N` when the version needs a reader above version 1 —
    * appended to the meta kv list by every manifest-writing path */
  private def minReaderKv(entries: Seq[Entry], legacySpec: Boolean): String = {
    val need = Seq(
      if (entries.exists(_.dv.isDefined)) 2L else 1L,
      if (legacySpec) 1L else 3L).max
    if (need > 1L) s" minReader=$need" else ""
  }

  private val SchemaHeader = "#schema\t"
  private val MetaHeader = "#meta\t"
  private val ConstraintHeader = "#constraint\t"
  private val StatsHeader = "#stats\t"
  private val SegHeader = "#seg\t"

  /** Per-file column bounds travel the line-oriented manifest as
    * `col=lo,hi;...` cells with every token percent-encoded
    * (URLEncoder/URLDecoder as a self-consistent pair — the encoder's
    * output never contains the `= , ;` cell delimiters or whitespace, so
    * arbitrary string bounds round-trip exactly). Values serialize to a
    * canonical per-type string that round-trips bit-exactly: numerics via
    * toString, decimals via toPlainString, date/timestamp via their
    * CATALYST integer forms (days / micros) — so deserialization lands
    * directly on the internal representations the planner's interpreted
    * orderings compare ([[ManifestFile]]'s contract). Unsupported types
    * simply record no bounds — skipping is always conservative. */
  private[graft] object StatCodec {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    import org.apache.spark.unsafe.types.UTF8String

    def supported(dt: DataType): Boolean = dt match {
      case StringType | ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | BooleanType | DateType |
           TimestampType | TimestampNTZType => true
      case _: DecimalType => true
      case _ => false
    }

    /** external (Row-collected) value -> canonical string; None if the
      * type (or the runtime class the session's datetime API produced)
      * is not serializable here */
    def external(dt: DataType, v: Any): Option[String] = (dt, v) match {
      case (_, null) => None
      case (StringType, s: String) => Some(s)
      case (ByteType | ShortType | IntegerType | LongType | FloatType |
            DoubleType | BooleanType, x) => Some(x.toString)
      case (_: DecimalType, d: java.math.BigDecimal) => Some(d.toPlainString)
      case (DateType, d: java.sql.Date) =>
        Some(DateTimeUtils.fromJavaDate(d).toString)
      case (DateType, d: java.time.LocalDate) => Some(d.toEpochDay.toString)
      case (TimestampType, t: java.sql.Timestamp) =>
        Some(DateTimeUtils.fromJavaTimestamp(t).toString)
      case (TimestampType, i: java.time.Instant) =>
        Some(DateTimeUtils.instantToMicros(i).toString)
      case (TimestampNTZType, t: java.time.LocalDateTime) =>
        Some(DateTimeUtils.localDateTimeToMicros(t).toString)
      case _ => None
    }

    /** CATALYST internal value -> the canonical string form [[internal]]
      * parses back — what a task-side writer tracking bounds over
      * InternalRow values records (the streaming toTable sink); the
      * representations already ARE the canonical integer forms for
      * date/timestamp, so this is toString plus the two special cases */
    def fromCatalyst(dt: DataType, v: Any): Option[String] = (dt, v) match {
      case (_, null) => None
      case (StringType, u: org.apache.spark.unsafe.types.UTF8String) =>
        Some(u.toString)
      case (_: DecimalType, d: org.apache.spark.sql.types.Decimal) =>
        Some(d.toJavaBigDecimal.toPlainString)
      case (ByteType | ShortType | IntegerType | LongType | FloatType |
            DoubleType | BooleanType | DateType | TimestampType |
            TimestampNTZType, x) => Some(x.toString)
      case _ => None
    }

    /** canonical string -> CATALYST internal value (UTF8String / days /
      * micros / Decimal), the representation interpreted orderings and
      * pushed-filter literals use */
    def internal(dt: DataType, s: String): Any = dt match {
      case StringType => UTF8String.fromString(s)
      case ByteType => s.toByte
      case ShortType => s.toShort
      case IntegerType => s.toInt
      case LongType => s.toLong
      case FloatType => s.toFloat
      case DoubleType => s.toDouble
      case BooleanType => s.toBoolean
      case DateType => s.toInt
      case TimestampType | TimestampNTZType => s.toLong
      case d: DecimalType =>
        org.apache.spark.sql.types.Decimal(
          new java.math.BigDecimal(s), d.precision, d.scale)
      case other => throw new IllegalStateException(
        s"StatCodec: unsupported stats type ${other.simpleString}")
    }

    private def enc(s: String): String =
      java.net.URLEncoder.encode(s, "UTF-8")
    private def dec(s: String): String =
      java.net.URLDecoder.decode(s, "UTF-8")

    def cell(stats: Map[String, (String, String)]): String =
      if (stats.isEmpty) "-"
      else stats.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
        s"${enc(c)}=${enc(lo)},${enc(hi)}"
      }.mkString(";")

    def parse(cell: String): Map[String, (String, String)] =
      if (cell == "-" || cell.isEmpty) Map.empty
      else cell.split(";", -1).map { kv =>
        val eq = kv.indexOf('=')
        val comma = kv.indexOf(',', eq + 1)
        require(eq > 0 && comma > eq,
          s"Snapshots: malformed stats cell token: $kv")
        dec(kv.substring(0, eq)) ->
          (dec(kv.substring(eq + 1, comma)), dec(kv.substring(comma + 1)))
      }.toMap
  }

  /** One manifest entry = ONE immutable data file: partition value,
    * absolute path, exact byte length, the version that last changed its
    * ROWS (`dataVersion` — compaction carries it, see [[diff]]), and its
    * per-column [lo, hi] bounds serialized by [[StatCodec]]. All of it is
    * recorded when the file is written (files never change, so the stats
    * are exact forever) and carried VERBATIM through replace commits —
    * the Delta add-action shape that lets [[optimize]]/[[merge]] pick
    * their rewrite sets from metadata alone. */
  /** One manifest line = one immutable data file. `dv` is the optional
    * DELETION VECTOR reference (Delta's DV sidecar shape): the name of a
    * small parquet under `_manifests/dv/` holding this file's deleted
    * row ordinals, plus the deleted-row cardinality — a row-level DELETE
    * whose per-file hit fraction is small masks rows instead of
    * rewriting the file (see [[delete]]), and every scan applies the
    * mask. Written as a 6th tab field only when present, so pre-DV
    * manifests parse unchanged and DV-free tables stay byte-identical. */
  private[graft] case class Entry(value: String, path: String, bytes: Long,
      dataVersion: Long, stats: Map[String, (String, String)],
      dv: Option[(String, Long)] = None) {
    def line: String = {
      val base = s"$value\t$path\t$bytes\t$dataVersion\t${StatCodec.cell(stats)}"
      dv.fold(base) { case (name, card) => s"$base\t$name#$card" }
    }
  }

  /** One immutable manifest SEGMENT a version references instead of
    * inlining its entry lines — the Iceberg manifest-list indirection
    * that bounds commit metadata cost: a commit that touches T of a
    * table's F files re-lists the untouched segments as ONE `#seg` line
    * each (O(F / segmentRows) lines) and writes fresh lines only for the
    * touched files, instead of an O(F)-line manifest per commit. The
    * summary (entry count, byte total, partition [min, max]) is recorded
    * when the segment is written; segment files are immutable and SHARED
    * across versions (vacuum GCs the unreferenced ones), so their parses
    * cache JVM-wide ([[segCache]]) and a steady-state read of a 10^6-file
    * table re-parses only the segments the last commit actually changed. */
  private[graft] case class SegRef(name: String, count: Int, bytes: Long,
      minValue: String, maxValue: String) {
    def line: String = s"#seg\t$name\t$count\t$bytes\t$minValue\t$maxValue"
  }

  private def segPath(dir: String, name: String): Path =
    new Path(dir, s"_manifests/segs/$name")

  /** JVM-wide LRU of parsed segment files, keyed by absolute path —
    * segments are IMMUTABLE once written (same rule as data files), so a
    * cached parse is valid until vacuum deletes the file, and a deleted
    * segment is by then referenced by no live manifest. Bounded by
    * SEGMENT COUNT (default 4096-entry segments => the cap holds ~2M
    * parsed entries, a few hundred MB worst case on the driver). */
  private val segCacheMax = 512
  private val segCache =
    new java.util.LinkedHashMap[String, Seq[Entry]](128, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Seq[Entry]]): Boolean =
        size() > segCacheMax
    }

  private def segEntries(fs: FileSystem, dir: String, ref: SegRef): Seq[Entry] = {
    val p = segPath(dir, ref.name)
    val key = fs.makeQualified(p).toString
    segCache.synchronized { Option(segCache.get(key)) } match {
      case Some(es) => es
      case None =>
        val text =
          try readSmall(fs, p)
          catch {
            case e: java.io.FileNotFoundException =>
              throw new IllegalStateException(
                s"Snapshots: manifest segment ${ref.name} is missing at " +
                  s"$dir — a live manifest references it, so either the " +
                  "segment store was tampered with or vacuum raced a " +
                  "commit it must not race", e)
          }
        val es = text.split("\n").toSeq.filter(_.nonEmpty).map(parseEntryLine(p, _))
        require(es.size == ref.count,
          s"Snapshots: segment ${ref.name} holds ${es.size} entries but the " +
            s"manifest records ${ref.count} — torn or tampered segment")
        segCache.synchronized { segCache.put(key, es) }
        es
    }
  }

  private def parseEntryLine(p: Path, line: String): Entry =
    line.split("\t", -1) match {
      case Array(value, path, bytes, dv, stats) =>
        Entry(value, path, bytes.toLong, dv.toLong, StatCodec.parse(stats))
      case Array(value, path, bytes, dv, stats, dvRef) =>
        val (dvName, card) = dvRef.splitAt(dvRef.lastIndexOf('#'))
        Entry(value, path, bytes.toLong, dv.toLong, StatCodec.parse(stats),
          dv = Some((dvName, card.stripPrefix("#").toLong)))
      case f if f.length == 2 || f.length == 4 =>
        // the pre-file-grain (r14) per-partition formats — fail
        // self-describingly rather than "malformed"
        throw new IllegalStateException(
          s"Snapshots: $p uses the retired per-partition manifest " +
            "format (pre-file-grain); recommit the table under the " +
            "current format")
      case _ => throw new IllegalStateException(
        s"Snapshots: malformed manifest line in $p: $line")
    }

  /** one parsed manifest: recorded read schema, commit time, the
    * operation that produced the version, active CHECK constraints
    * (name -> SQL expression), file entries (inline + segment-served),
    * and the segment structure (`segParts`) carry decisions are made
    * from — `entries` always holds the FULL resolved list */
  private[graft] case class Manifest(schema: Option[StructType],
      ts: Option[Long], op: Option[String],
      constraints: Seq[(String, String)], entries: Seq[Entry],
      segParts: Seq[(SegRef, Seq[Entry])] = Nil,
      partCol: Option[String] = None,
      /** physical column names RETIRED by drops — never reassignable
        * (see [[ColumnMapping]]) */
      retired: Seq[String] = Nil,
      /** TABLE PROPERTIES (Delta's table-property surface): carried
        * forward by every commit, set via [[setTableProperty]]; the
        * honored keys are documented there */
      props: Map[String, String] = Map.empty)

  /** thrown when a version's manifest is absent (never committed, or
    * retired by [[vacuum]]) — a dedicated type CARRYING THE TABLE DIR so
    * [[commitRetry]]/[[merge]] can classify staleness of THEIR OWN table
    * as a retryable race without masking an unrelated failure (a
    * transform reading some OTHER table at a stale version must
    * propagate, not burn retries) */
  final class StaleVersionException(val tableDir: String, msg: String)
      extends IllegalArgumentException(msg)

  /** JVM-wide LRU of PARSED manifests, keyed by qualified path and
    * VALIDATED by (length, modificationTime) — manifests are immutable
    * once committed, so a cached parse is valid for the file's lifetime,
    * but the PATH is not: a table dir deleted and recreated at the same
    * location reuses the same `vN.txt` names, and a liveness probe alone
    * would serve the OLD table's parse for the new file. Every read
    * already pays one stat round-trip (previously fs.exists, now
    * getFileStatus — same cost), so the hit check compares the status it
    * captured against the cached one and reparses on any mismatch.
    * Primed WRITE-THROUGH by the commit point (a committer parses the
    * content it just wrote), which is what makes a merge/DML fold's next
    * step read its predecessor's manifest for free. */
  private final case class CachedManifest(len: Long, mtime: Long,
      m: Manifest)
  private val manifestCacheMax = 64
  private val manifestCache =
    new java.util.LinkedHashMap[String, CachedManifest](32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, CachedManifest]): Boolean =
        size() > manifestCacheMax
    }

  /** measurement hook (MetaBench): drop both metadata caches so a
    * "cold read" measurement is genuinely from disk — the write-through
    * prime would otherwise make a committer's own re-read ~free and the
    * cold number meaningless. Never needed for correctness. */
  private[graft] def clearMetadataCaches(): Unit = {
    manifestCache.synchronized(manifestCache.clear())
    segCache.synchronized(segCache.clear())
  }

  /** Drop cached metadata for ONE table dir — the user-facing
    * invalidation hatch (Delta's `DeltaLog.clearCache` shape) for the
    * cases (len, mtime) validation can't see: an external process still
    * mid-recreate, or a recreate landing a SAME-LENGTH manifest within
    * one mtime tick of the original (possible on coarse-granularity
    * filesystems — fixed-width header fields make equal lengths
    * likely for same-shaped tables). Reads after this re-stat and
    * re-parse from disk; the status check on every read covers the
    * ordinary delete-recreate flow. */
  def invalidateCaches(dir: String): Unit = {
    val norm = new Path(dir).toUri.getPath.stripSuffix("/") + "/"
    def prune[V](cache: java.util.LinkedHashMap[String, V]): Unit =
      cache.synchronized {
        val it = cache.keySet().iterator()
        while (it.hasNext) {
          if (new Path(it.next()).toUri.getPath.startsWith(norm)) it.remove()
        }
      }
    prune(manifestCache)
    prune(segCache)
  }

  private[graft] def readManifest(s: SparkSession, dir: String,
      v: Long): Manifest = {
    val fs = fsOf(s, dir)
    val p = manifestPath(dir, v)
    val st =
      try fs.getFileStatus(p)
      catch {
        case _: java.io.FileNotFoundException =>
          throw new StaleVersionException(dir,
            s"Snapshots: version $v does not exist at $dir")
      }
    val key = fs.makeQualified(p).toString
    manifestCache.synchronized { Option(manifestCache.get(key)) } match {
      case Some(c) if c.len == st.getLen &&
          c.mtime == st.getModificationTime => c.m
      case _ =>
        val m = parseManifestText(fs, dir, p, readSmall(fs, p))
        manifestCache.synchronized {
          manifestCache.put(key,
            CachedManifest(st.getLen, st.getModificationTime, m))
        }
        m
    }
  }

  private def parseManifestText(fs: FileSystem, dir: String, p: Path,
      text: String): Manifest = {
    val lines = text.split("\n").toSeq.filter(_.nonEmpty)
    // headers are a PREFIX of '#'-leading lines; entries never start with
    // '#' (commit refuses '#'-leading partition values precisely so this
    // split is unambiguous — a blanket '#' filter over ALL lines would
    // silently DROP such a partition: missing rows on read and, worse,
    // vacuum deleting its still-referenced files). Unknown '#' headers
    // are skipped for forward compatibility.
    val (headers, entryLines) = lines.span(_.startsWith("#"))
    val schema = headers.find(_.startsWith(SchemaHeader))
      .map(h => DataType.fromJson(h.stripPrefix(SchemaHeader))
        .asInstanceOf[StructType])
    val meta = headers.find(_.startsWith(MetaHeader))
      .map(_.stripPrefix(MetaHeader).split("\\s+").toSeq).getOrElse(Seq.empty)
    // reader/writer protocol gate (the Delta/Iceberg evolution rule):
    // a commit whose entries need reader features this build lacks
    // stamps `minReader=N`; checked BEFORE any entry parse so the
    // failure is self-describing ("needs feature X") rather than a
    // generic malformed-line error from a format the reader predates
    meta.collectFirst {
      case kv if kv.startsWith("minReader=") =>
        kv.stripPrefix("minReader=").toLong
    }.filter(_ > SupportedReaderVersion).foreach { need =>
      throw new IllegalStateException(
        s"Snapshots: $p requires reader version $need but this build " +
          s"supports $SupportedReaderVersion — the table uses format " +
          "features (e.g. deletion vectors) newer than this reader; " +
          "upgrade the library to read it")
    }
    val ts = meta.collectFirst {
      case kv if kv.startsWith("ts=") => kv.stripPrefix("ts=").toLong
    }
    val op = meta.collectFirst {
      case kv if kv.startsWith("op=") => kv.stripPrefix("op=")
    }
    // partCol recorded since r16 (percent-encoded) — what makes the
    // table SELF-DESCRIBING for the SQL DML surface: `DELETE FROM
    // graft_snapshot.`dir`` needs no out-of-band partition-column hint
    val partColH = meta.collectFirst {
      case kv if kv.startsWith("partCol=") =>
        java.net.URLDecoder.decode(kv.stripPrefix("partCol="), "UTF-8")
    }
    val retired = meta.collectFirst {
      case kv if kv.startsWith("retired=") =>
        kv.stripPrefix("retired=").split(",").toSeq.filter(_.nonEmpty)
          .map(java.net.URLDecoder.decode(_, "UTF-8"))
    }.getOrElse(Nil)
    val props = meta.collectFirst {
      case kv if kv.startsWith("props=") =>
        kv.stripPrefix("props=").split(",").toSeq.filter(_.nonEmpty)
          .map { pair =>
            val Array(k, v) = pair.split("=", 2)
            java.net.URLDecoder.decode(k, "UTF-8") ->
              java.net.URLDecoder.decode(v, "UTF-8")
          }.toMap
    }.getOrElse(Map.empty[String, String])
    val constraints = headers.filter(_.startsWith(ConstraintHeader)).map { h =>
      h.stripPrefix(ConstraintHeader).split("\t", 2) match {
        case Array(name, sql) => name -> sql
        case _ => throw new IllegalStateException(
          s"Snapshots: malformed constraint header in $p: $h")
      }
    }
    // `#seg` refs resolve through the JVM-wide cache — on the steady
    // path a re-read of a big table's manifest parses O(changed
    // segments) lines, not O(files)
    val segParts = headers.filter(_.startsWith(SegHeader)).map { h =>
      h.stripPrefix(SegHeader).split("\t", -1) match {
        case Array(name, count, bytes, minV, maxV) =>
          val ref = SegRef(name, count.toInt, bytes.toLong, minV, maxV)
          ref -> segEntries(fs, dir, ref)
        case _ => throw new IllegalStateException(
          s"Snapshots: malformed segment header in $p: $h")
      }
    }
    val inline = entryLines.map(parseEntryLine(p, _))
    Manifest(schema, ts, op, constraints,
      inline ++ segParts.flatMap(_._2), segParts, partColH, retired, props)
  }

  /** header fields only (ts, op, the `#stats` rollup, and the
    * idempotent-commit txn stamp when present) — reads the '#'-prefixed
    * PREFIX and stops before any entry line or segment resolution, so
    * [[history]] and [[commitIdempotent]]'s txn walk cost one small
    * read per version, never an entry parse */
  private def readHeaderMeta(fs: FileSystem, p: Path)
      : (Option[Long], Option[String], Option[(Long, Long, Long, Long)],
        Option[(String, Long)]) = {
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(p), "UTF-8"))
    try {
      var ts: Option[Long] = None
      var op: Option[String] = None
      var stats: Option[(Long, Long, Long, Long)] = None
      var txn: Option[(String, Long)] = None
      var line = in.readLine()
      while (line != null && line.startsWith("#")) {
        if (line.startsWith(MetaHeader)) {
          val kvs = line.stripPrefix(MetaHeader).split("\\s+").toSeq
          ts = kvs.collectFirst {
            case kv if kv.startsWith("ts=") => kv.stripPrefix("ts=").toLong
          }
          op = kvs.collectFirst {
            case kv if kv.startsWith("op=") => kv.stripPrefix("op=")
          }
          txn = for {
            app <- kvs.collectFirst {
              case kv if kv.startsWith("txnApp=") =>
                java.net.URLDecoder.decode(kv.stripPrefix("txnApp="), "UTF-8")
            }
            b <- kvs.collectFirst {
              case kv if kv.startsWith("txnBatch=") =>
                kv.stripPrefix("txnBatch=").toLong
            }
          } yield (app, b)
        } else if (line.startsWith(StatsHeader)) {
          val kvs = line.stripPrefix(StatsHeader).split("\\s+").toSeq
          def kv(k: String): Option[Long] = kvs.collectFirst {
            case x if x.startsWith(k + "=") => x.stripPrefix(k + "=").toLong
          }
          stats = for (p1 <- kv("parts"); f <- kv("files"); b <- kv("bytes"))
            yield (p1, f, b, kv("masked").getOrElse(0L))
        }
        line = in.readLine()
      }
      (ts, op, stats, txn)
    } finally in.close()
  }

  /** COLUMN MAPPING — the field-ID indirection that makes RENAME and
    * DROP metadata-only operations (Delta's column-mapping / Iceberg's
    * field-ID design, in miniature): each schema-header field carries
    *
    *   - `graft.id`        a stable numeric id assigned when the column
    *                       first appears (never reused),
    *   - `graft.physical`  the parquet column name its DATA lives under
    *                       in every file, forever.
    *
    * A RENAME changes only the LOGICAL field name (id + physical stay) —
    * zero data movement, old versions serve their own header. A DROP
    * removes the field from the header and RETIRES its physical name (a
    * `retired=` meta list every later manifest carries), so a column
    * re-added under the same name gets a FRESH physical name and can
    * never resurrect the dropped column's bytes out of carried files.
    * Writes rename the frame logical->physical before the parquet write;
    * scans read physical and alias back. For tables that never rename,
    * physical == logical throughout and every path is byte-identical to
    * the pre-mapping format (the common case costs nothing). */
  private object ColumnMapping {
    val IdKey = "graft.id"
    val PhysKey = "graft.physical"

    def physicalName(f: StructField): String =
      if (f.metadata.contains(PhysKey)) f.metadata.getString(PhysKey)
      else f.name

    def fieldId(f: StructField): Option[Long] =
      if (f.metadata.contains(IdKey)) Some(f.metadata.getLong(IdKey))
      else None

    def nontrivial(st: StructType): Boolean =
      st.fields.exists(f => physicalName(f) != f.name)

    /** logical -> physical name map for `st` */
    def toPhysical(st: StructType): Map[String, String] =
      st.fields.map(f => f.name -> physicalName(f)).toMap

    /** the schema as the parquet FILES see it: fields renamed to their
      * physical names (metadata kept — harmless in a scan schema) */
    def physicalStruct(st: StructType): StructType =
      StructType(st.fields.map(f => f.copy(name = physicalName(f))))

    /** Assign ids/physical names to a commit's data schema: a field
      * whose NAME matches a previous-header field inherits that field's
      * id and physical name (same column, possibly evolving type within
      * the contract); a new field gets maxId+1 and physical = its name —
      * unless that name is RETIRED (a dropped column's data may still
      * live under it in carried files) or already in use as another
      * field's physical name (the rename-then-readd shape), in which
      * case it gets a collision-proof `<name>_g<id>`. */
    def assign(dataSchema: StructType, prev: Option[StructType],
        retired: Seq[String]): StructType = {
      val prevByName = prev.map(_.fields.map(f => f.name -> f).toMap)
        .getOrElse(Map.empty)
      var maxId = prev.toSeq.flatMap(_.fields).flatMap(fieldId)
        .foldLeft(0L)(math.max)
      val takenPhys = scala.collection.mutable.Set[String](retired: _*)
      prevByName.valuesIterator.foreach(f => takenPhys += physicalName(f))
      StructType(dataSchema.fields.map { f =>
        prevByName.get(f.name) match {
          case Some(pf) =>
            val mb = new MetadataBuilder().withMetadata(f.metadata)
            fieldId(pf).foreach(mb.putLong(IdKey, _))
            mb.putString(PhysKey, physicalName(pf))
            f.copy(metadata = mb.build())
          case None =>
            maxId += 1
            // the fallback candidate must ITSELF be free — a user column
            // literally named like a generated name (or a prior
            // generation) would otherwise share a physical name with
            // this one (duplicate parquet columns, silent wrong data)
            var phys =
              if (!takenPhys.contains(f.name)) f.name
              else s"${f.name}_g$maxId"
            var bump = 1
            while (takenPhys.contains(phys)) {
              phys = s"${f.name}_g${maxId}_$bump"
              bump += 1
            }
            takenPhys += phys
            f.copy(metadata = new MetadataBuilder()
              .withMetadata(f.metadata)
              .putLong(IdKey, maxId)
              .putString(PhysKey, phys)
              .build())
        }
      })
    }
  }

  /** nullability widened RECURSIVELY (structs/arrays/maps included):
    * used for both the recorded read schema and the schema-contract
    * comparison, so nullability — top-level or nested — stays entirely
    * outside the contract and a header can never carry a false non-null
    * guarantee over carried files */
  private def widen(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(dataType = widen(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(widen(e), containsNull = true)
    case MapType(k, v, _) => MapType(widen(k), widen(v), valueContainsNull = true)
    case other => other
  }

  private def widenStruct(st: StructType): StructType =
    widen(st).asInstanceOf[StructType]

  /** the OCC loser's signal — a dedicated type so [[commitRetry]] never
    * mistakes an unrelated failure (any error whose message happens to
    * contain "already exists") for a lost race and masks it behind
    * `attempts` full recomputes. Also raised when a STALLED writer's
    * rename targets a version number at or below the vacuum retention
    * floor — without that check the rename would SUCCEED into the
    * retired slot (vacuum deleted that manifest, so the exists-guard no
    * longer refuses) and resurrect a version whose data files are gone. */
  final class CommitConflictException(msg: String)
      extends IllegalStateException(msg)

  /** entries per segment file AND the inline->segment fold threshold —
    * session-tunable so tests can drive the segmented path on tiny
    * tables; 4096 keeps a 10^6-file table at ~250 `#seg` lines per
    * manifest and segment files around half a MB */
  private def segmentRows(s: SparkSession): Int =
    s.conf.getOption("spark.graft.snapshot.segmentRows")
      .map(_.toInt).getOrElse(4096)

  /** write one immutable segment file (per-writer-unique name carrying
    * the TARGET version, so vacuum can protect an in-flight writer's
    * segments by the same version-number rule as its data dirs) and
    * prime the cache with its parse */
  private def writeSegment(fs: FileSystem, dir: String, v: Long,
      chunk: Seq[Entry]): SegRef = {
    val name = f"seg_v$v%08d_" +
      java.util.UUID.randomUUID().toString.replace("-", "") + ".txt"
    val p = segPath(dir, name)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, false)
    try out.write(chunk.map(_.line).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    segCache.synchronized {
      segCache.put(fs.makeQualified(p).toString, chunk)
    }
    SegRef(name, chunk.size, chunk.map(_.bytes).sum,
      chunk.map(_.value).min, chunk.map(_.value).max)
  }

  /** Pack a version's final file list for writing: a predecessor segment
    * whose entries ALL survive identically (no rewrite, no
    * dataVersion stamp) carries as one `#seg` ref — zero metadata
    * rewrite for the untouched bulk of the table; every other entry is
    * "loose" and inlines, unless the loose count exceeds
    * `spark.graft.snapshot.segmentRows`, in which case loose entries
    * fold into fresh immutable segments (self-compacting: a pre-segment
    * table's first commit past the threshold folds its whole inline list
    * into segments once, and inline lines accumulated by small commits
    * re-fold whenever they outgrow the threshold). Returns (segment refs,
    * inline entries). */
  private def packEntries(s: SparkSession, fs: FileSystem, dir: String,
      v: Long, entries: Seq[Entry],
      prevSegParts: Seq[(SegRef, Seq[Entry])]): (Seq[SegRef], Seq[Entry]) = {
    val byPath = entries.map(e => e.path -> e).toMap
    val keep = prevSegParts.filter { case (_, es) =>
      es.nonEmpty && es.forall(e => byPath.get(e.path).contains(e))
    }
    val covered = keep.flatMap(_._2).map(_.path).toSet
    val loose = entries.filterNot(e => covered(e.path))
      .sortBy(e => (e.value, e.path))
    val rows = segmentRows(s)
    if (loose.size > rows)
      (keep.map(_._1) ++
        loose.grouped(rows).map(writeSegment(fs, dir, v, _)), Nil)
    else (keep.map(_._1), loose)
  }

  /** the meta-header `retired=` kv (empty string when nothing retired) */
  private def retiredKv(retired: Seq[String]): String =
    if (retired.isEmpty) ""
    else " retired=" + retired.map(
      java.net.URLEncoder.encode(_, "UTF-8")).mkString(",")

  /** ` props=k=v,k=v` (each side URL-encoded) — absent when the table
    * carries no properties, so property-free manifests stay
    * byte-identical */
  private def propsKv(props: Map[String, String]): String =
    if (props.isEmpty) ""
    else " props=" + props.toSeq.sortBy(_._1).map { case (k, v) =>
      java.net.URLEncoder.encode(k, "UTF-8") + "=" +
        java.net.URLEncoder.encode(v, "UTF-8")
    }.mkString(",")

  /** the `#stats` rollup header — what makes [[history]] a header-only
    * read per version */
  private def statsHeader(entries: Seq[Entry]): String = {
    // `masked=` appears only when deletion vectors are live — the
    // maintenance signal DESCRIBE HISTORY surfaces (how much mask debt
    // OPTIMIZE would retire); kv form keeps DV-free manifests (and all
    // legacy tables) byte-identical
    val masked = dvMaskedRows(entries)
    StatsHeader + s"parts=${entries.map(_.value).distinct.size} " +
      s"files=${entries.size} bytes=${entries.map(_.bytes).sum}" +
      (if (masked > 0) s" masked=$masked" else "")
  }

  /** commit wall-clock for the `#meta ts=` header, clamped NON-DECREASING
    * (strictly increasing, in fact) against the predecessor manifest's
    * recorded ts — Delta's rule: under clock skew between concurrent
    * writers, raw per-writer System.currentTimeMillis() would make
    * [[versionAt]]/timestampAsOf resolution and DESCRIBE HISTORY ordering
    * non-monotonic and non-reproducible; the clamp costs nothing (every
    * committing path already holds the predecessor manifest) */
  private def commitTs(prev: Option[Manifest]): Long =
    math.max(System.currentTimeMillis(),
      prev.flatMap(_.ts).getOrElse(Long.MinValue) + 1)

  /** best-effort advisory hint write (see [[currentVersion]]) — never
    * load-bearing, shared by every committing path */
  private def writeHint(fs: FileSystem, dir: String, v: Long): Unit =
    try {
      val out = fs.create(hintPath(dir), true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    } catch { case _: Exception => () }

  private def floorPath(dir: String): Path =
    new Path(dir, "_manifests/_floor")

  /** lowest LIVE version per the last vacuum (0 = nothing retired).
    * Degrades to 0 ONLY on the defects a missing/torn/garbled floor file
    * produces (not found, truncated, non-numeric) — the check is then
    * skipped, which is the pre-floor behavior, never a new failure mode.
    * Any OTHER IO error (a transient FS fault) PROPAGATES so the commit
    * fails loudly instead of silently running without the resurrection
    * guard at exactly the moment it matters. */
  private def retentionFloorAt(fs: FileSystem, fp: Path): Long =
    try {
      if (fs.exists(fp)) readSmall(fs, fp).trim.toLong else 0L
    } catch {
      case _: java.io.FileNotFoundException => 0L
      case _: java.io.EOFException => 0L
      case _: NumberFormatException => 0L
    }

  /** the floor is REPLACED atomically (tmp + FileContext rename with
    * Options.Rename.OVERWRITE — the one Hadoop API with atomic-replace
    * semantics on HDFS and local FS), so a reader concurrent with a
    * vacuum only ever observes the old complete value or the new one,
    * never a torn write during exactly the window the floor protects */
  private def writeFloorAtomic(s: SparkSession, fs: FileSystem, fp: Path,
      floor: Long): Unit = {
    val tmp = new Path(fp.getParent, s".tmp_floor_${System.nanoTime()}")
    val out = fs.create(tmp, true)
    try out.write(floor.toString.getBytes("UTF-8")) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      fp.toUri, s.sparkContext.hadoopConfiguration)
    fc.rename(fs.makeQualified(tmp), fs.makeQualified(fp),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** manifest dirs probed (or proven by createLink's own
    * UnsupportedOperationException) to sit on a mount WITHOUT hard
    * links — commits there skip the link attempt and go straight to the
    * rename fallback; everywhere else a FileSystemException from the
    * link is a REAL IO fault and propagates (see the commit point) */
  private val linkFreeDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** one-shot probe: can this directory hard-link at all? Creates and
    * links a throwaway pair. Only createLink's OWN
    * UnsupportedOperationException marks the dir link-free for the JVM
    * (a permanent mount property); a generic FileSystemException from
    * the probe link allows the rename fallback for the CURRENT commit
    * but is never cached — it may be transient, and caching it would
    * permanently downgrade the dir to the racy rename path. Any
    * probe-setup failure returns FALSE — "links may work" — so the
    * caller propagates its original IO fault instead of masking it
    * behind the racy rename path. */
  private def probeLinksUnsupported(parent: java.nio.file.Path): Boolean = {
    if (linkFreeDirs.contains(parent.toString)) return true
    val nonce = java.util.UUID.randomUUID().toString
    val src = parent.resolve(s".probe_link_src_$nonce")
    val dst = parent.resolve(s".probe_link_dst_$nonce")
    try {
      java.nio.file.Files.write(src, Array.emptyByteArray)
      try {
        java.nio.file.Files.createLink(dst, src)
        false // links work here: the caller's failure was a real fault
      } catch {
        case _: UnsupportedOperationException =>
          // the documented "this FS has no hard links" signal — a
          // PERMANENT property of the mount, safe to cache for the JVM
          linkFreeDirs.add(parent.toString)
          true
        case _: java.nio.file.FileSystemException =>
          // the probe's link failed the same generic way as the real
          // one — could be the mount, could be a TRANSIENT fault
          // (momentary ENOSPC/quota on inode metadata). Fall back to
          // rename for THIS commit only, WITHOUT caching: poisoning
          // linkFreeDirs here would silently downgrade every future
          // commit on this dir to the racy check-then-rename path — the
          // exact lost-commit window the link point exists to close.
          true
      }
    } catch {
      case _: Exception => false // can't even probe: don't mask the fault
    } finally {
      try java.nio.file.Files.deleteIfExists(dst)
      catch { case _: Exception => () }
      try java.nio.file.Files.deleteIfExists(src)
      catch { case _: Exception => () }
    }
  }

  /** The atomic CREATE-OR-REFUSE primitive the manifest commit rests on
    * — invariant 3's per-filesystem seam, as a first-class contract:
    *
    *   - MUST either create `target` complete or throw
    *     [[CommitConflictException]] when a concurrent writer created it
    *     first (the OCC loser signal); a torn/partial target is never
    *     observable.
    *   - real IO faults PROPAGATE as what they are — never downgraded
    *     to a conflict (commitRetry would burn attempts on a dead store).
    *   - `tmp` holds the staged content; the implementation consumes or
    *     deletes it on every path.
    *
    * Implementations: [[LinkCommitPoint]] (local FS — link(2) refuses an
    * existing target where POSIX rename would REPLACE it),
    * [[RenameCommitPoint]] (HDFS-class — rename is atomic and refuses),
    * [[ConditionalPutCommitPoint]] (object stores — one conditional PUT:
    * S3 `If-None-Match: *`, GCS `ifGenerationMatch=0`, ABFS ETag; the
    * store client is injected, and the OCC fuzz drives the protocol
    * through a fake store in SnapshotsSpec). The RESIDUAL floor/vacuum
    * race is part of this contract too: [[writeManifestAtomic]]
    * re-checks the retention floor AFTER the point lands and SELF-ABORTS
    * a commit that stalled past a vacuum (see there). */
  private[graft] trait CommitPoint {
    /** `stage()` lazily writes the content to a tmp file and returns its
      * path — called only by implementations that commit BY FILE MOVE
      * (link/rename); the conditional-PUT point sends `content` straight
      * to the store and never stages (no wasted write, no tmp to leak) */
    def commit(fs: FileSystem, target: Path, content: Array[Byte],
        stage: () => Path): Unit
    /** the loser signal, shared by implementations */
    protected def conflict(target: Path): Nothing =
      throw new CommitConflictException(
        s"Snapshots: manifest $target already exists — a concurrent " +
          "writer committed this version first; re-read the table and " +
          "retry (optimistic concurrency)")
  }

  /** HDFS-class: rename is atomic and refuses an existing target —
    * a FALSE return is the loser signal; an EXCEPTION from the store is
    * a real IO fault and PROPAGATES (the contract above — downgrading it
    * would burn commitRetry attempts against a dead filesystem). */
  private[graft] object RenameCommitPoint extends CommitPoint {
    def commit(fs: FileSystem, target: Path, content: Array[Byte],
        stage: () => Path): Unit = {
      val tmp = stage()
      val renamed =
        try fs.rename(tmp, target)
        catch {
          case e: Throwable =>
            try fs.delete(tmp, false) catch { case _: Exception => () }
            throw e
        }
      if (!renamed) {
        fs.delete(tmp, false)
        conflict(target)
      }
    }
  }

  /** LOCAL filesystems: POSIX rename(2) REPLACES an existing target, so
    * Hadoop's rename guarantee rests on a check-then-rename window a
    * true thread race CAN lose (observed: the concurrent-merge spec lost
    * a committed version to a racer's clobbering rename). link(2) is the
    * atomic-refuse-if-exists primitive: hard-link tmp to the manifest
    * name — created or FileAlreadyExistsException, no window. Mounts
    * without hard links (FAT/FUSE/SMB) fall back to the rename
    * guarantee, but ONLY after a once-per-dir probe proves links are
    * genuinely unsupported — a real IO fault (ENOSPC, quota) propagates
    * instead of being misreported as a lost race. */
  private[graft] object LinkCommitPoint extends CommitPoint {
    def commit(fs: FileSystem, target: Path, content: Array[Byte],
        stage: () => Path): Unit = {
      val pLocal = java.nio.file.Paths.get(target.toUri.getPath)
      if (linkFreeDirs.contains(pLocal.getParent.toString)) {
        RenameCommitPoint.commit(fs, target, content, stage)
        return
      }
      val tmp = stage()
      val tmpLocal = java.nio.file.Paths.get(tmp.toUri.getPath)
      try {
        java.nio.file.Files.createLink(pLocal, tmpLocal)
        fs.delete(tmp, false)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          fs.delete(tmp, false)
          conflict(target)
        case _: UnsupportedOperationException =>
          // createLink's documented "this FS has no hard links" signal
          linkFreeDirs.add(pLocal.getParent.toString)
          RenameCommitPoint.commit(fs, target, content, () => tmp)
        case e: java.nio.file.FileSystemException =>
          if (probeLinksUnsupported(pLocal.getParent))
            RenameCommitPoint.commit(fs, target, content, () => tmp)
          else { fs.delete(tmp, false); throw e }
      }
    }
  }

  /** Object-store-class, SHIPPING client: one `createFile(target)
    * .overwrite(false)` through Hadoop's public builder API — the call
    * every modern connector maps to its store's server-side
    * conditional-create primitive (S3A: `If-None-Match: *` PUT since
    * Hadoop 3.4.1's conditional-write support, HADOOP-19256; ABFS:
    * ETag-conditional create; the GCS connector:
    * `ifGenerationMatch=0`), so the ARBITER IS THE STORE, not a
    * check-then-write. The object materializes atomically at close()
    * (a single PUT of the full manifest bytes — object stores have no
    * torn-read window between create and close, which is exactly why
    * this point is selected ONLY for object-store schemes; an HDFS
    * create streams visibly and must keep using the rename point). The
    * loser signal can surface at build() (connectors that probe early)
    * OR at close() (S3A's conditional PUT loses the race at upload
    * completion) — both classify as the OCC conflict; every other IO
    * fault propagates as itself. No staging: the bytes go straight to
    * the store (a tmp object would be a wasted write plus a leak
    * surface). Selection is pinned in SnapshotsSpec; the end-to-end
    * protocol (winner/loser/fault/cleanup + the floor re-check) is
    * exercised against the local filesystem's same builder API. */
  private[graft] object BuilderCommitPoint extends CommitPoint {
    def commit(fs: FileSystem, target: Path, content: Array[Byte],
        stage: () => Path): Unit = {
      val out =
        try fs.createFile(target).overwrite(false).build()
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
            conflict(target)
        }
      try {
        out.write(content)
        out.close()
      } catch {
        case e: Throwable =>
          // release the stream WITHOUT completing the upload where the
          // store supports abort (S3A's block output stream leaks a
          // pending multipart upload if merely abandoned); a store
          // without abort gets a swallowed best-effort close — on a
          // flat store close-after-fault either completes our own
          // intended bytes or fails, never a torn object
          try out.abort()
          catch { case _: Throwable =>
            try out.close() catch { case _: Throwable => () }
          }
          e match {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
              // the conditional PUT lost at upload completion
              conflict(target)
            case _ if e.getClass.getName
                .endsWith("RemoteFileChangedException") =>
              // S3A surfaces a lost If-None-Match race as
              // RemoteFileChangedException (HTTP 412), not FAE — still
              // the OCC loser signal; matched by CLASS NAME only (so
              // the class needn't be on the compile classpath), never
              // by message sniffing — a generic fault whose message
              // merely mentions "412" must PROPAGATE, not downgrade to
              // a retryable conflict that could re-apply a DML on top
              // of its own possibly-landed commit
              conflict(target)
            case _ => throw e
          }
      }
    }
  }

  /** schemes whose connector is a FLAT object store with a documented
    * conditional-create mapping — the object materializes atomically at
    * close (a single conditional PUT), so [[BuilderCommitPoint]] is the
    * commit point there. HIERARCHICAL cloud filesystems (abfs/wasb)
    * deliberately stay on [[RenameCommitPoint]]: their create is
    * visible-then-append (a crash mid-stream would leave a torn
    * manifest at the final path, permanently wedging the version slot),
    * and their rename is genuinely atomic — the correct primitive
    * for them, same as HDFS. */
  private val flatStoreSchemes = Set("s3a", "gs", "oss", "cos", "obs")

  /** the per-filesystem commit-point choice BY SCHEME CLASS
    * (test-pinned): local gets link(2), flat object stores the
    * conditional-create builder, everything else (HDFS-class AND
    * hierarchical cloud FS) the atomic rename. Scheme class alone is
    * NOT sufficient for the builder point — see [[pointFor]], which
    * additionally requires the live connector to PROVE the
    * conditional-create mapping. */
  private[graft] def pointForScheme(scheme: String): CommitPoint =
    if (scheme == "file") LinkCommitPoint
    else if (flatStoreSchemes(scheme)) BuilderCommitPoint
    else RenameCommitPoint

  /** Hadoop's capability/option key for server-side conditional create
    * (HADOOP-19256, Options.CreateFileOptionKeys — present since 3.4.1;
    * S3A answers `hasPathCapability` true for it only when
    * `fs.s3a.create.conditional.enabled` holds). */
  private[graft] val ConditionalCreateCapability =
    "fs.option.create.conditional.overwrite"

  /** Hadoop-conf opt-in (`spark.hadoop.` + this from a Spark conf) that
    * asserts the connector maps `createFile().overwrite(false)` to a
    * server-side conditional create even though it does not advertise
    * the capability — for connectors (GCS, OSS) that predate the
    * capability key but have always enforced creation atomically
    * (`ifGenerationMatch=0`). */
  private[graft] val ConditionalCreateOverride =
    "graft.snapshot.conditional-create.enabled"

  /** The commit point for a LIVE (fs, path): scheme class first, then —
    * for the flat-object-store class — a capability gate. On stock S3A
    * below Hadoop 3.4.1, or 3.4.1+ without
    * `fs.s3a.create.conditional.enabled`, `overwrite(false)` is a
    * client-side HEAD-then-PUT: two racing committers can BOTH succeed
    * and a committed version is silently lost. So the builder point is
    * used only when the connector itself advertises the
    * conditional-create capability for this path (or the deployment
    * explicitly asserts it via [[ConditionalCreateOverride]]); otherwise
    * the scheme falls back to the rename point — non-atomic on a flat
    * store, but its tmp+rename-refusing-existing shape never loses a
    * committed manifest silently to the same single-writer-visible
    * window, and it is the long-standing pre-builder behavior. */
  private[graft] def pointFor(fs: FileSystem, p: Path): CommitPoint = {
    val scheme = Option(p.toUri.getScheme).getOrElse("file")
    pointForScheme(scheme) match {
      case BuilderCommitPoint =>
        val capable =
          try fs.hasPathCapability(p, ConditionalCreateCapability)
          catch { case _: Exception => false }
        if (capable ||
            fs.getConf.getBoolean(ConditionalCreateOverride, false))
          BuilderCommitPoint
        else RenameCommitPoint
      case other => other
    }
  }

  /** Object-store-class, INJECTED client: ONE conditional PUT of the
    * full manifest bytes — `putIfAbsent` returns true iff THIS call
    * created the object. Kept as the protocol-fuzz seam (SnapshotsSpec
    * drives the OCC fuzz through a fake atomic store) and for callers
    * with a store client of their own; deployments on s3a/gs/abfs get
    * [[BuilderCommitPoint]] automatically. */
  private[graft] final class ConditionalPutCommitPoint(
      putIfAbsent: (Path, Array[Byte]) => Boolean) extends CommitPoint {
    def commit(fs: FileSystem, target: Path, content: Array[Byte],
        stage: () => Path): Unit =
      // no staging: the bytes go straight to the store's conditional
      // PUT — a tmp object would be a wasted write plus a leak surface
      // if the store call throws
      if (!putIfAbsent(target, content)) conflict(target)
  }

  /** test seam: a non-null override routes EVERY commit through it
    * (SnapshotsSpec drives the OCC fuzz through the conditional-PUT
    * protocol against a fake store) */
  private[graft] val commitPointOverride =
    new java.util.concurrent.atomic.AtomicReference[CommitPoint](null)

  /** Atomic create-or-refuse for a SMALL metadata file OUTSIDE the
    * manifest protocol (the change-feed source's initial-snapshot pin):
    * same per-filesystem [[CommitPoint]] primitives, returning FALSE
    * when a racer created the target first — a plain tmp+rename here
    * would REPLACE on POSIX and let a racer's recomputed pin clobber the
    * original (the exact trap the link(2) commit point closed). */
  private[graft] def createExclusive(fs: FileSystem, p: Path,
      bytes: Array[Byte]): Boolean = {
    fs.mkdirs(p.getParent)
    if (fs.exists(p)) return false
    def stage(): Path = {
      val tmp = new Path(p.getParent, s".tmp_${p.getName}_${System.nanoTime()}")
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      tmp
    }
    // SAME resolution as writeManifestAtomic — the override seam covers
    // every exclusive create (so the conditional-PUT fuzz exercises the
    // pin path too, and an object-store deployment's pin rides the
    // store's conditional PUT rather than a non-atomic rename)
    val point = Option(commitPointOverride.get)
      .getOrElse(pointFor(fs, p))
    try { point.commit(fs, p, bytes, stage); true }
    catch { case _: CommitConflictException => false }
  }

  /** tmp + [[CommitPoint]] create-or-refuse, REFUSING an existing target
    * or a vacuumed version number — the commit point, the
    * optimistic-concurrency guard, and the resurrection guard in one
    * place, with the floor RE-CHECKED after landing (a stalled writer
    * self-aborts rather than resurrect a retired slot — see the inline
    * note for the one in-flight-floor-write sliver that remains, the
    * residue real formats bound with "retention >> longest writer
    * stall"). Package-visible so specs can drive the branches directly. */
  private[graft] def writeManifestAtomic(fs: FileSystem, p: Path,
      content: String): Unit = {
    fs.mkdirs(p.getParent)
    def conflict(why: String): Nothing =
      throw new CommitConflictException(
        s"Snapshots: manifest $p $why; re-read the table and retry " +
          "(optimistic concurrency)")
    val vOfP = p.getName.stripPrefix("v").stripSuffix(".txt")
    val vNum = if (vOfP.nonEmpty && vOfP.forall(_.isDigit)) Some(vOfP.toLong)
      else None
    val floorFile = new Path(p.getParent, "_floor")
    if (vNum.exists(_ <= retentionFloorAt(fs, floorFile)))
      conflict("targets a version at or below the vacuum retention " +
        "floor — this writer stalled past the retention window")
    if (fs.exists(p)) conflict("already exists — a concurrent writer " +
      "committed this version first")
    val bytes = content.getBytes("UTF-8")
    // staging is LAZY and owned by the commit points that move files
    // (link/rename); the conditional-PUT point never calls it
    def stage(): Path = {
      val tmp = new Path(p.getParent, s".tmp_${p.getName}_${System.nanoTime()}")
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      tmp
    }
    val point = Option(commitPointOverride.get)
      .getOrElse(pointFor(fs, p))
    point.commit(fs, p, bytes, stage)
    // FLOOR RE-CHECK — the residual floor/vacuum race, folded into the
    // commit contract: a writer that passed the pre-check while a
    // concurrent vacuum raised the floor would land a version whose
    // data files that vacuum is deleting. Vacuum raises the floor
    // BEFORE deleting anything, so re-reading it after the commit point
    // detects every vacuum that could have retired this slot — the
    // writer SELF-ABORTS (deletes its own just-landed manifest, reports
    // the lost race). The only window left is a floor write still in
    // flight during both checks, which the atomic floor replace makes a
    // read-complete-or-old affair — the same residue real formats
    // document and bound by "retention >> longest writer stall".
    if (vNum.exists(_ <= retentionFloorAt(fs, floorFile))) {
      fs.delete(p, false)
      conflict("landed at or below the vacuum retention floor — this " +
        "writer stalled past the retention window (self-aborted)")
    }
    // WRITE-THROUGH cache prime: the committer parses the content it
    // just wrote (zero IO), so the next reader — typically this JVM's
    // own next merge/DML fold step, feed step, or OCC verify — skips the
    // parse entirely. Advisory only: any failure here leaves the read
    // path to parse from disk as before.
    try {
      val tableDir = p.getParent.getParent.toString
      val m = parseManifestText(fs, tableDir, p, content)
      // one stat so the primed entry carries the (len, mtime) the read
      // path validates against — without it every post-commit read of
      // this version would look like a mismatch and reparse
      val st = fs.getFileStatus(p)
      manifestCache.synchronized {
        manifestCache.put(fs.makeQualified(p).toString,
          CachedManifest(st.getLen, st.getModificationTime, m))
      }
    } catch { case _: Exception => () }
  }

  /** manifest entries -> the [[ManifestFile]]s the planner's file index
    * serves: stats deserialized to CATALYST internal values against the
    * version's recorded schema (a stats column absent from the schema, an
    * unsupported type, or an unparseable token degrades to "no bounds" —
    * file skipping is always conservative, never a correctness input) */
  /** stats-cell key suffix for a per-file BLOOM (16x63-bit words, k h60
    * probes — [[graft.api.Graft.bloomChunkIndex]]'s geometry): rides the
    * ordinary stats map, so carry-by-reference preserves blooms for
    * free, and an unknowing reader treats the cell as bounds of a
    * column the schema lacks — skipped, never misread */
  private[graft] val BloomKeySuffix = "#bf"

  private def indexFiles(spec: PartSpec, schema: StructType,
      entries: Seq[Entry]): Seq[ManifestFile] = {
    val byName = schema.fields.map(f => f.name -> f.dataType).toMap
    entries.map { e =>
      val (bloomCells, boundCells) =
        e.stats.partition(_._1.endsWith(BloomKeySuffix))
      val st = boundCells.flatMap { case (c, (lo, hi)) =>
        byName.get(c).filter(StatCodec.supported).flatMap { dt =>
          try Some(c -> (Option(StatCodec.internal(dt, lo)),
            Option(StatCodec.internal(dt, hi))))
          catch { case _: Exception => None }
        }
      }
      val blooms = bloomCells.flatMap { case (kk, (bits, geom)) =>
        try {
          val Array(w, kNum) = geom.split(":").map(_.toInt)
          val arr = new Array[Long](w)
          bits.split("\\.").filter(_.nonEmpty).foreach { pair =>
            val Array(i, hx) = pair.split(":")
            arr(i.toInt) = java.lang.Long.parseUnsignedLong(hx, 16)
          }
          Some(kk.stripSuffix(BloomKeySuffix) ->
            org.apache.spark.sql.graftbridge.FileBloom(arr, kNum))
        } catch { case _: Exception => None } // malformed: conservative
      }
      ManifestFile(spec.split(e.value), e.path, e.bytes, st, blooms)
    }
  }

  /** Per-file BLOOM cells for `bloomColumns` over the just-written
    * files — the format-native equality-skipping layer (Iceberg-puffin /
    * Parquet-column-bloom role) for declared HIGH-CARDINALITY columns
    * whose [min, max] bounds cannot prune point predicates. One
    * column-pruned distinct + bit_or aggregation over the new files
    * PER DECLARED COLUMN (the price of write-time blooms; bounds stay
    * footer-served — declare the one or two lookup columns, not the
    * schema).
    * Encoding: sparse `word:hex` pairs + a `words:k` geometry cell —
    * probed at PLAN time by [[org.apache.spark.sql.graftbridge.FileBloom]]
    * with the same h60 positions the codegen'd build hashed. Returned
    * keyed by [[normPath]]. */
  private def collectBlooms(s: SparkSession, files: Seq[String],
      dataSchema: StructType, bloomColumns: Seq[String],
      words: Int = 16, k: Int = 3)
      : Map[String, Map[String, (String, String)]] = {
    val ok: DataType => Boolean = {
      case StringType | ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val bad = bloomColumns.filterNot(c =>
      dataSchema.fieldNames.contains(c) && ok(dataSchema(c).dataType))
    require(bad.isEmpty,
      s"Snapshots: bloomColumns ${bad.mkString(", ")} must be string or " +
        "integral data columns (the probe hashes the cast-to-string form)")
    val toPhys = ColumnMapping.toPhysical(dataSchema)
    val positions = words * 63
    val raw = s.read.schema(ColumnMapping.physicalStruct(dataSchema))
      .parquet(files: _*)
    val perCol = bloomColumns.map { c =>
      val phys = toPhys(c)
      val rows = raw
        .select(col("_metadata.file_path").as("__bf_file"),
          col(phys).cast("string").as("__bf_key"))
        .where(col("__bf_key").isNotNull).distinct()
        .select(col("__bf_file"),
          explode(sequence(lit(0), lit(k - 1))).as("__bf_i"),
          col("__bf_key"))
        .select(col("__bf_file"),
          (graft.Exact.h60(concat(lit("bl"), col("__bf_i"), lit(":"),
            col("__bf_key"))) % positions).as("__bf_p"))
        .select(col("__bf_file"), expr("__bf_p div 63").as("__bf_w"),
          expr("shiftleft(1L, cast(__bf_p % 63 as int))").as("__bf_m"))
        .groupBy("__bf_file", "__bf_w")
        .agg(expr("bit_or(__bf_m)").as("__bf_bits"))
        .collect() // O(written files x words) metadata rows
      (phys + BloomKeySuffix) -> rows.groupBy(r => metaPath(r.getString(0)))
        .map { case (f, rs) =>
          val cell = rs.sortBy(_.getLong(1)).map(r =>
            s"${r.getLong(1)}:${java.lang.Long.toHexString(r.getLong(2))}")
            .mkString(".")
          f -> (cell, s"$words:$k")
        }
    }
    perCol.flatMap { case (key, byFile) =>
      byFile.map { case (f, cell) => (f, key, cell) }
    }.groupBy(_._1).map { case (f, cells) =>
      f -> cells.map(t => t._2 -> t._3).toMap
    }
  }

  /** plan a scan over exactly `entries` (batch or, for the change-feed
    * source, streaming-tagged) — the manifest IS the file index: zero
    * directory listings, zero footer reads, partition pruning on
    * `partCol`, per-file skipping on the recorded column bounds */
  private[graft] def scanEntries(s: SparkSession, partCol: String,
      schema: StructType, entries: Seq[Entry],
      streaming: Boolean = false): DataFrame =
    scanStamped(s, partCol, schema, Seq(entries -> Nil), new StructType,
      streaming)

  /** [[scanEntries]] over several groups of entries in ONE scan, each
    * group's rows stamped with its own `stamp` values (external string
    * form, null allowed) as the extra columns `stamps` — per-file
    * constants the index serves like partition values, after the
    * partition column(s). That is how the change feed labels a batch's
    * rows ('added'/'removed', commit version, commit timestamp) without
    * a projection of literals per version: no per-version plan and no
    * per-commit constant in the generated code. A file may sit in
    * several groups (added at one version, removed at a later one).
    * Deletion vectors mask by file path, so when any entry carries one,
    * the groups are scanned one by one and unioned instead (a file's
    * older entry must not take its newer mask). */
  private[graft] def scanStamped(s: SparkSession, partCol: String,
      schema: StructType, groups: Seq[(Seq[Entry], Seq[String])],
      stamps: StructType, streaming: Boolean): DataFrame =
    if (groups.size > 1 && groups.exists(_._1.exists(_.dv.isDefined)))
      groups.map(g => scanStamped(s, partCol, schema, Seq(g), stamps, streaming))
        .reduce(_ unionByName _)
    else {
      // the RELATION always reads the files' PHYSICAL schema (manifest
      // stats are keyed physical too, so pushed filters and per-file
      // bounds agree under the scan); a rename-bearing header then
      // aliases physical -> logical ON TOP — Catalyst pushes predicates
      // and pruning straight through the aliases, so the plan below the
      // projection is identical to the unmapped case. Trivially-mapped
      // tables (the common case) skip the projection entirely.
      val spec = PartSpec.parse(partCol)
      val phys = ColumnMapping.physicalStruct(schema)
      val types = phys.fields.map(f => f.name -> f.dataType).toMap
      val files = groups.flatMap { case (entries, stamp) =>
        indexFiles(spec, phys, entries).map(f => f.copy(values = f.values ++ stamp))
      }
      val partSchema = StructType(spec.struct.fields ++ stamps.fields)
      val raw =
        if (streaming) Bridge.manifestStreamScan(s, partSchema, files, types, phys)
        else Bridge.manifestFileScan(s, partSchema, files, types, phys)
      val scan = applyDv(s, raw, groups.flatMap(_._1))
      if (!ColumnMapping.nontrivial(schema)) scan
      else scan.select(schema.fields.toSeq.map(f =>
        col(ColumnMapping.physicalName(f)).as(f.name)) ++
        (spec.names ++ stamps.fieldNames).map(col): _*)
    }

  /** Apply the entries' DELETION VECTORS (if any) above the scan: a
    * broadcast LEFT ANTI join of the scan's hidden parquet position
    * (`_metadata.file_path`, `_metadata.row_index`) against the deleted
    * (file, ordinal) pairs of every referenced sidecar. DV-free tables
    * (the overwhelmingly common case, and every table with
    * `spark.graft.snapshot.dvEnabled` unset) take the zero-cost branch
    * and keep byte-identical plans. The anti join is broadcast —
    * O(deleted rows in the scanned entries) driver/exchange bytes, the
    * same budget Delta's DV broadcast spends — and stays inside
    * whole-stage codegen (BroadcastHashJoin), so masked scans lose no
    * vectorization. Sidecars referenced by OLDER entries of the same
    * files may ride along in the union; their ordinal sets are always
    * subsets of the newest reference (delete only ever unions), so the
    * mask stays exact for time travel at any pinned version. */
  private def applyDv(s: SparkSession, scan: DataFrame,
      entries: Seq[Entry]): DataFrame = dvPairs(s, entries) match {
    case None => scan
    case Some(dels) =>
      scan
        .withColumn("__dv_file", col("_metadata.file_path"))
        .withColumn("__dv_idx", col("_metadata.row_index"))
        .join(dvBuildSide(s, entries, dels),
          col("__dv_file") === col("__dv_path") &&
            col("__dv_idx") === col("__dv_ord"), "left_anti")
        .drop("__dv_file", "__dv_idx")
  }

  /** total masked rows of the scanned entries — METADATA ONLY (the
    * recorded per-entry mask cardinalities), what sizes the anti-join
    * strategy without reading a sidecar byte */
  private def dvMaskedRows(entries: Seq[Entry]): Long =
    entries.iterator.flatMap(_.dv.map(_._2)).sum

  /** The anti join's build side, size-thresholded: small masks broadcast
    * (one hash table, zero extra shuffles, inside whole-stage codegen —
    * the common case and Delta's own budget), but a large accumulated
    * mask — a 100x table under sustained DML between OPTIMIZE runs —
    * must not ride the driver: above
    * `spark.graft.snapshot.dvBroadcastThreshold` (masked rows, default
    * 4M) the pairs keep their distributed form and the join is hinted
    * SHUFFLE_HASH, so driver/exchange bytes stay bounded per task
    * however large the mask grows. Both branches read back identically
    * (spec-pinned); the switch is metadata-only. */
  private def dvBuildSide(s: SparkSession, entries: Seq[Entry],
      dels: DataFrame): DataFrame = {
    val threshold = s.conf
      .getOption("spark.graft.snapshot.dvBroadcastThreshold")
      .map(_.toLong).getOrElse(4000000L)
    if (dvMaskedRows(entries) <= threshold) broadcast(dels)
    else dels.hint("shuffle_hash")
  }

  /** the deleted (`__dv_path`, `__dv_ord`) pairs of every sidecar the
    * entries reference — None when DV-free (the zero-cost common case).
    * When entries reference SEVERAL sidecars, a file's pairs can appear
    * in more than one (an entry's newest sidecar plus older sidecars
    * other entries still reference, whose copies are always SUBSETS of
    * the newest — the union rule): correctness never needs the dedupe,
    * but `distinct()` keeps the join's build side at the true mask size
    * instead of the sum of overlapping sidecar copies. */
  private def dvPairs(s: SparkSession,
      entries: Seq[Entry]): Option[DataFrame] = {
    val names = entries.iterator.flatMap(_.dv.map(_._1)).toSeq.distinct
    if (names.isEmpty) None
    else {
      val pairs = s.read.parquet(names: _*).select(
        col("path").as("__dv_path"), explode(col("ords")).as("__dv_ord"))
      Some(if (names.size > 1) pairs.distinct() else pairs)
    }
  }

  /** row-level deletes are OPT-IN per session (Delta gates its DVs by
    * table property the same way): unset/0 keeps every DML a pure
    * file rewrite and every manifest byte-identical to r16 */
  private def dvMaxFraction(s: SparkSession): Double =
    if (!s.conf.getOption("spark.graft.snapshot.dvEnabled")
        .exists(_.equalsIgnoreCase("true"))) 0.0
    else s.conf.getOption("spark.graft.snapshot.dvMaxFraction")
      .map(_.toDouble).getOrElse(0.2)

  /** the TABLE-aware gate: the `graft.dv.enabled` / `graft.dv.maxFraction`
    * TABLE PROPERTIES (set via [[setTableProperty]]) override the
    * session conf — a curated lake can turn masks on for its hot
    * upsert tables without every session opting in (Delta's
    * `delta.enableDeletionVectors` shape). Property absent -> the
    * session rule above. */
  private def dvMaxFraction(s: SparkSession, m: Manifest): Double =
    m.props.get(PropDvEnabled) match {
      case Some(v) if v.equalsIgnoreCase("true") =>
        m.props.get(PropDvMaxFraction).map(_.toDouble)
          .orElse(s.conf.getOption("spark.graft.snapshot.dvMaxFraction")
            .map(_.toDouble))
          .getOrElse(0.2)
      case Some(_) => 0.0 // explicitly disabled for this table
      case None => dvMaxFraction(s)
    }

  /** scheme-independent identity of a MANIFEST entry path (listStatus's
    * raw form, e.g. `part=a b`, `part=p%2520q` exactly as on disk) */
  private def normPath(p: String): String = new Path(p).toUri.getPath

  /** scheme-independent identity of a `_metadata.file_path` string —
    * which arrives URL-ENCODED (`part=a%20b` for the on-disk `part=a b`;
    * a literal '%' double-encodes), like input_file_name(): decode
    * through URI so it matches [[normPath]] of the entry recorded for
    * the same file. Matching the two raw forms directly would silently
    * classify every hostile-valued partition's file as untouched — the
    * DV delete would NO-OP on rows it matched (spec-pinned). */
  private def metaPath(p: String): String =
    try new Path(new java.net.URI(p)).toUri.getPath
    catch { case _: java.net.URISyntaxException =>
      new Path(p).toUri.getPath
    }

  /** [[scanEntries]] plus the scan's PHYSICAL row position exposed as
    * ordinary columns (`__pos_file`, `__pos_idx`) — what the DV-writing
    * DML kernels key their masks by. Existing DVs are applied (an
    * already-masked row is invisible to the predicate), and the
    * positions are the RAW parquet ordinals, so a new mask unions
    * cleanly with the old one. */
  private def scanEntriesWithPos(s: SparkSession, partCol: String,
      schema: StructType, entries: Seq[Entry]): DataFrame = {
    val spec = PartSpec.parse(partCol)
    val phys = ColumnMapping.physicalStruct(schema)
    val types = phys.fields.map(f => f.name -> f.dataType).toMap
    val raw = Bridge.manifestFileScan(s, spec.struct,
        indexFiles(spec, phys, entries), types, phys)
      .withColumn("__pos_file", col("_metadata.file_path"))
      .withColumn("__pos_idx", col("_metadata.row_index"))
    val masked = dvPairs(s, entries) match {
      case None => raw
      case Some(dels) => raw.join(dvBuildSide(s, entries, dels),
        col("__pos_file") === col("__dv_path") &&
          col("__pos_idx") === col("__dv_ord"), "left_anti")
    }
    if (!ColumnMapping.nontrivial(schema)) masked
    else masked.select(schema.fields.toSeq.map(f =>
      col(ColumnMapping.physicalName(f)).as(f.name)) ++
      spec.names.map(col) ++
      Seq(col("__pos_file"), col("__pos_idx")): _*)
  }

  /** ONE counting pass over the bounds-affected files: per file, (live
    * rows — existing masks applied — and predicate hits), returned as a
    * lookup by manifest entry. The per-file verdict BOTH DV DML kernels
    * classify from; shared so a normalization or census fix can never
    * diverge DELETE from UPDATE. O(affected files) driver rows. */
  private def dvLiveHits(s: SparkSession, partCol: String,
      schema: StructType, affected: Seq[Entry],
      hit: org.apache.spark.sql.Column): Entry => (Long, Long) = {
    val counts = scanEntriesWithPos(s, partCol, schema, affected)
      .groupBy(col("__pos_file"))
      .agg(count(lit(1)).as("live"),
        sum(when(hit, 1L).otherwise(0L)).as("hits"))
      .collect()
      .map(r => metaPath(r.getString(0)) -> (r.getLong(1), r.getLong(2)))
      .toMap
    e => counts.getOrElse(normPath(e.path), (0L, 0L))
  }

  /** Extend the masks of `masked` entries with `newPairs` (freshly
    * matched (`__dv_path`, `__dv_ord`) rows): ONE new sidecar holding
    * new ∪ old ordinals, returned as the entries re-pointed at it —
    * the single mask-growth primitive DELETE/UPDATE/row-grain MERGE all
    * share. The old-mask union carries every old pair of the MASKED
    * ENTRIES' OWN FILES — keyed by the entries being re-pointed, NOT by
    * the files `newPairs` mentions: restricting to newPairs' files
    * would LOSE file F's old mask whenever a non-deterministic
    * predicate's second evaluation matched no F row (F's dv ref would
    * point at a sidecar missing F's ordinals and its previously deleted
    * rows would RESURRECT), while every masked entry's own old pairs
    * riding along is exactly what its re-pointed ref needs. Pairs of
    * OTHER files sharing those sidecars are dropped — their entries
    * keep their old refs untouched — which bounds each new sidecar to
    * the re-pointed files' masks instead of the cumulative mask history
    * riding on shared sidecars (unbounded growth under many small
    * DMLs). The path filter is resolved DRIVER-SIDE over the sidecars'
    * O(distinct files) path values (metadata-sized, same budget as the
    * per-file cardinality read-back) because the sidecar path form is
    * URL-encoded (`_metadata.file_path`) and the entry form is raw —
    * the [[metaPath]]/[[normPath]] bridge is driver code. */
  private def extendMasks(s: SparkSession, dir: String, targetV: Long,
      masked: Seq[Entry], newPairs: DataFrame): Seq[Entry] = {
    if (masked.isEmpty) return Nil
    val pairs = dvPairs(s, masked) match {
      case None => newPairs
      case Some(old) =>
        val ownNorm = masked.map(e => normPath(e.path)).toSet
        val keep = old.select(col("__dv_path")).distinct().collect()
          .map(_.getString(0)).filter(p => ownNorm(metaPath(p)))
        newPairs.unionByName(old.where(col("__dv_path").isin(
          keep.toIndexedSeq: _*)))
    }
    val (dvName, cards) = writeDvSidecar(s, dir, targetV, pairs)
    masked.map(e => e.copy(dv =
      Some((dvName, cards.getOrElse(normPath(e.path), 0L)))))
  }

  /** Write ONE deletion-vector sidecar (a small parquet of
    * `(path, ords, card)` rows under `_manifests/dv/`) for the given
    * (`__dv_path`, `__dv_ord`) pairs, aggregated to sorted per-file
    * ordinal arrays IN THE EXECUTORS — the driver never holds a row-
    * level mask, only the O(touched files) per-file cardinalities it
    * reads back for the manifest entries. The name carries the TARGET
    * version so vacuum protects an in-flight writer's sidecar by the
    * same version-number rule as its data dirs and segments. */
  private def writeDvSidecar(s: SparkSession, dir: String, v: Long,
      pairs: DataFrame): (String, Map[String, Long]) = {
    val name = f"$dir/_manifests/dv/dv_v$v%08d_" +
      java.util.UUID.randomUUID().toString.replace("-", "") + ".parquet"
    pairs.groupBy(col("__dv_path").as("path"))
      .agg(sort_array(collect_set(col("__dv_ord"))).as("ords"))
      .withColumn("card", size(col("ords")).cast("long"))
      .repartition(1)
      .write.parquet(name)
    val cards = s.read.parquet(name).select("path", "card").collect()
      .map(r => metaPath(r.getString(0)) -> r.getLong(1)).toMap
    (name, cards)
  }

  private def schemaOf(s: SparkSession, m: Manifest): StructType =
    // header-less manifests (none are written anymore): one footer read
    m.schema.getOrElse(s.read.parquet(m.entries.head.path).schema)

  /** the columns of `schema` whose types support recorded [min, max]
    * bounds — the Delta-style auto-collect default `append`/the catalog
    * write surface use */
  def supportedStatsColumns(schema: StructType): Seq[String] =
    schema.fields.toSeq.filter(f => StatCodec.supported(f.dataType))
      .map(_.name)

  /** the table's (logical, physical) data schemas — what the streaming
    * toTable writer builds its file schema and projections from
    * (physical == logical for never-renamed tables) */
  private[sources] def writeSchemas(s: SparkSession,
      dir: String): (StructType, StructType) = {
    val logical = tableSchema(s, dir)
    (logical, ColumnMapping.physicalStruct(logical))
  }

  /** the table's current LOGICAL data schema (partition column not
    * included) — metadata only, one manifest read */
  def tableSchema(s: SparkSession, dir: String): StructType = {
    val cur = currentVersion(s, dir)
    require(cur >= 1, s"Snapshots: no committed table at $dir")
    schemaOf(s, readManifest(s, dir, cur))
  }

  /** the version's scan as a BaseRelation — what the SQL surface
    * ([[SnapshotSource]], `USING graft_snapshot`) hands the planner, the
    * SAME manifest-served HadoopFsRelation [[read]] wraps, so SQL and
    * Scala reads plan identically (one FileSourceScan, partition pruning,
    * per-file bounds skipping) */
  private[graft] def relationAt(s: SparkSession, dir: String,
      partCol: String, version: Long)
      : org.apache.spark.sql.sources.BaseRelation = {
    require(version >= 1, s"Snapshots: no committed version to read at $dir")
    val m = readManifest(s, dir, version)
    val schema = schemaOf(s, m)
    if (!ColumnMapping.nontrivial(schema) && !m.entries.exists(_.dv.isDefined)) {
      val spec = PartSpec.parse(partCol)
      val types = schema.fields.map(f => f.name -> f.dataType).toMap
      Bridge.manifestRelation(s, spec.struct,
        indexFiles(spec, schema, m.entries), types, schema)
    } else {
      // a RENAME-bearing table cannot be served as a bare
      // HadoopFsRelation (parquet resolves by name, and V1 relations
      // cannot interpose a projection) — and neither can a DV-bearing
      // one (the mask join must sit above the raw scan) — so the SQL
      // surface reads those through a PrunedFilteredScan over the
      // masked/aliased scan: column pruning AND pushed filters both
      // reach the inner manifest scan
      // (filters re-applied as Column predicates on the LOGICAL frame,
      // where the alias projection forwards them into partition pruning
      // and per-file bounds skipping — Spark re-evaluates residuals
      // above, so a partially-translated filter is merely conservative)
      val df = scanEntries(s, partCol, schema, m.entries)
      new org.apache.spark.sql.sources.BaseRelation
          with org.apache.spark.sql.sources.PrunedFilteredScan {
        override def sqlContext: org.apache.spark.sql.SQLContext =
          s.sqlContext
        override def schema: StructType = df.schema
        override def needConversion: Boolean = false
        override def buildScan(requiredColumns: Array[String],
            filters: Array[org.apache.spark.sql.sources.Filter])
            : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
          val filtered = filters.flatMap(filterToColumn)
            .foldLeft(df)((d, c) => d.filter(c))
          // an empty projection (count(*) shape) must yield ZERO-column
          // rows — the scan exec trusts the pruned schema exactly
          val pruned = filtered.select(requiredColumns.toSeq.map(col): _*)
          Bridge.internalRowRdd(pruned)
            .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
        }
      }
    }
  }

  /** V1 source filters -> Column predicates for the mapped-table SQL
    * relation. Top-level (and AND) translation may be PARTIAL — a
    * conjunct that doesn't translate is simply a residue Spark
    * re-applies above the scan, and the translated conjunct still prunes
    * partitions/files inside the manifest scan. Anything under OR or NOT
    * must translate EXACTLY or not at all: negating / disjoining a
    * weakened child would DROP matching rows the residual re-check can
    * never restore (e.g. Not(And(a, untranslatable)) as !a wrongly
    * excludes rows with a=true). */
  private def filterToColumn(f: org.apache.spark.sql.sources.Filter)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.sources._
    f match {
      case And(l, r) =>
        (filterToColumn(l), filterToColumn(r)) match {
          case (Some(a), Some(b)) => Some(a && b)
          case (a, b) => a.orElse(b)
        }
      case other => filterToColumnExact(other)
    }
  }

  /** all-or-nothing translation — the only form OR/NOT children may use */
  private def filterToColumnExact(f: org.apache.spark.sql.sources.Filter)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) => Some(col(a).isin(vs.toSeq.map(lit): _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case And(l, r) =>
        for (a <- filterToColumnExact(l); b <- filterToColumnExact(r))
          yield a && b
      case Or(l, r) =>
        for (a <- filterToColumnExact(l); b <- filterToColumnExact(r))
          yield a || b
      case Not(c) => filterToColumnExact(c).map(!_)
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case StringContains(a, v) => Some(col(a).contains(v))
      case _ => None
    }
  }

  /** Read the table at `version` (-1 = latest) as ONE parquet scan: the
    * manifest IS the scan plan — its per-file entries are served to Spark
    * as a log-backed [[org.apache.spark.sql.graftbridge.ManifestFileIndex]],
    * so the plan holds a single FileSourceScan node no matter how many
    * partitions or files the manifest lists, planning performs ZERO
    * filesystem listings and ZERO footer reads (paths, sizes, and schema
    * all come from the manifest), a filter on `partCol` prunes entries
    * before any data file is opened, and a filter on a stats column
    * skips FILES whose recorded [lo, hi] bounds prove them irrelevant
    * (what makes OPTIMIZE CLUSTER-BY pay). Concurrent commits (which
    * only ADD files and manifests) cannot perturb a pinned reader. */
  def read(s: SparkSession, dir: String, partCol: String,
      version: Long = -1L): DataFrame = {
    val v = if (version < 0) currentVersion(s, dir) else version
    require(v >= 1, s"Snapshots: no committed version to read at $dir")
    val m = readManifest(s, dir, v)
    scanEntries(s, partCol, schemaOf(s, m), m.entries)
  }

  /** [[read]] at the version [[versionAt]] resolves for `tsMillis` —
    * Delta's `timestampAsOf`. */
  def readAsOf(s: SparkSession, dir: String, partCol: String,
      tsMillis: Long): DataFrame =
    read(s, dir, partCol, versionAt(s, dir, tsMillis))

  /** [[read]] restricted to `values` — MANIFEST-level partition pruning:
    * excluded entries never reach the file index, so they cost no
    * planner work either (a `.filter(partCol)` on [[read]] prunes at the
    * index; this prunes before the index exists — the log-level
    * predicate real formats apply, and the difference between
    * O(selected) and O(table) manifest entries in the plan at 10^4
    * partitions). Values absent from the manifest are simply empty,
    * like any partition filter. */
  def readPartitions(s: SparkSession, dir: String, partCol: String,
      values: Set[String], version: Long = -1L): DataFrame = {
    require(values.nonEmpty, "Snapshots: readPartitions needs >= 1 value")
    val v = if (version < 0) currentVersion(s, dir) else version
    require(v >= 1, s"Snapshots: no committed version to read at $dir")
    val m = readManifest(s, dir, v)
    scanEntries(s, partCol, schemaOf(s, m), m.entries.filter(e => values(e.value)))
  }

  /** Full-snapshot commit: write `df` partitioned by `partCol` into a
    * fresh immutable data dir, manifest every written file, commit via
    * the atomic manifest rename. `statsColumns` records per-file
    * [min, max] bounds for those columns in the manifest (one extra
    * aggregation pass over the JUST-WRITTEN files only — the price of
    * file skipping and file-grain [[merge]]; pass the merge key and the
    * range-query columns). Returns the new version. */
  def commit(s: SparkSession, dir: String, df: DataFrame, partCol: String,
      statsColumns: Seq[String] = Nil,
      /** declared high-cardinality columns to record per-file BLOOMS
        * for (equality skipping where [min,max] bounds cannot prune) —
        * costs one extra column-pruned aggregation over the written
        * files */
      bloomColumns: Seq[String] = Nil): Long =
    commitImpl(s, dir, df, partCol, carryUntouched = false, Set.empty, None,
      statsColumns, bloomColumns = bloomColumns)

  /** APPEND-as-version: add `df`'s rows as fresh files while EVERY
    * existing file carries by reference — the `INSERT INTO` shape (new
    * files + one manifest line each; commit metadata O(appended files +
    * segments), never table size). `statsColumns = null` (the default)
    * records bounds for EVERY supported atomic column — Delta's
    * auto-collect default, affordable because the bounds come from the
    * writer tasks' own footers ([[StatsCommitProtocol]]); pass an
    * explicit list (or Nil) to narrow. The commit is pinned and retries
    * through the usual OCC loop. */
  def append(s: SparkSession, dir: String, df: DataFrame, partCol: String,
      statsColumns: Seq[String] = null, attempts: Int = 5,
      bloomColumns: Seq[String] = Nil): Long =
    dmlRetry(s, dir, attempts) { () =>
      val cur = currentVersion(s, dir)
      require(cur >= 1,
        s"Snapshots: append needs a committed table at $dir — seed with " +
          "commit() or createEmpty()")
      val m = readManifest(s, dir, cur)
      val schema = schemaOf(s, m)
      val spec = PartSpec.parse(partCol)
      val tableCols = schema.fieldNames.toSeq ++ spec.names
      val missing = tableCols.filterNot(df.columns.contains)
      require(missing.isEmpty,
        s"Snapshots: append frame is missing column(s) " +
          s"${missing.mkString(", ")}")
      // the mismatch check is TWO-SIDED (Delta's writer contract): a
      // source column the table doesn't have is refused, never silently
      // projected away — the silent drop turns a misspelled column into
      // lost data with no signal
      val unknown = df.columns.toSeq.filterNot(tableCols.contains)
      require(unknown.isEmpty,
        s"Snapshots: append frame carries column(s) the table lacks: " +
          s"${unknown.mkString(", ")} — drop or rename them, or evolve " +
          "the schema first (appends never add columns implicitly)")
      val stats = Option(statsColumns)
        .getOrElse(supportedStatsColumns(schema))
      val projected = df.select(schema.fields.toSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)) ++
        spec.cols.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      // allowEmpty: a ZERO-row INSERT INTO is a legal no-op-shaped
      // commit (Delta also versions it) — without the flag, appending
      // an empty frame to a createEmpty'd table would trip the
      // empty-table refusal meant for destructive rewrites
      commitImpl(s, dir, projected, partCol, carryUntouched = false,
        Set.empty, expectedPrev = Some(cur), statsColumns = stats,
        carriedOverride = Some(m.entries),
        prevManifestHint = Some(m), op = "append", allowEmpty = true,
        bloomColumns = bloomColumns)
    }

  /** CREATE TABLE's v1: an empty version carrying only the declared
    * schema — the ONE legal empty commit (every rewrite path keeps
    * refusing to empty a table, because there an empty result almost
    * always means a bug; a deliberate CREATE is the exception real
    * formats also carve out). The [[GraftCatalog]] DDL surface calls
    * this. */
  def createEmpty(s: SparkSession, dir: String,
      schema: StructType, partCol: String): Long = {
    require(currentVersion(s, dir) < 1,
      s"Snapshots: createEmpty refuses an existing table at $dir")
    val empty = s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    commitImpl(s, dir, empty, partCol, carryUntouched = false, Set.empty,
      None, op = "create", allowEmpty = true)
  }

  /** Optimistic-concurrency retry loop — the user-facing half of
    * invariant 3 (the conflict error says "re-read the table and retry";
    * this is that loop, done right). Each attempt resolves the current
    * version, hands it to `make` (which reads the table AT that version
    * to build the next state), and commits PINNED to exactly
    * version+1 — never a re-derived latest, so a racer landing between
    * the read and the rename makes the attempt FAIL LOUDLY and retry
    * against the racer's state instead of silently committing a state
    * that never saw it (the lost-update anomaly a naive
    * read-then-commit loop has). `prev` = 0 means the table is empty.
    * Two signals are retryable: the manifest-rename conflict, and a
    * STALENESS failure inside `make` — on a hot table, racers can land
    * enough commits that a concurrent vacuum retires `prev` between this
    * loop's currentVersion read and `make`'s manifest read; that read
    * fails "version N does not exist", which is the same lost race one
    * step earlier, so the loop re-resolves and retries rather than
    * escaping. Throws after `attempts` consecutive lost races. */
  def commitRetry(s: SparkSession, dir: String, partCol: String,
      attempts: Int = 5, replace: Boolean = false,
      replacedValues: Set[String] = Set.empty,
      statsColumns: Seq[String] = Nil)(
      make: Long => DataFrame): Long = {
    require(attempts >= 1, "commitRetry needs at least one attempt")
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      val prev = currentVersion(s, dir)
      try
        // statsColumns forwards like commit/commitReplace — a table
        // maintained through this loop must keep writing per-file bounds
        // (bounds carry verbatim and can never be backfilled, so a
        // missing passthrough here would permanently degrade file
        // skipping and merge selectivity for OCC-maintained tables)
        return commitImpl(s, dir, make(prev), partCol,
          carryUntouched = replace, replacedValues, expectedPrev = Some(prev),
          statsColumns = statsColumns,
          op = if (replace) "replace" else "commit")
      catch {
        case e: Throwable if isCommitRace(e, dir) => last = e; i += 1
      }
    }
    throw new IllegalStateException(
      s"Snapshots: commit lost $attempts consecutive optimistic races at " +
        s"$dir — a hotter writer is live; back off or coordinate", last)
  }

  /** a lost race is EXACTLY a manifest-rename refusal, or a
    * [[StaleVersionException]] FOR THIS TABLE (a concurrent vacuum
    * retired the version the attempt pinned — per-writer-unique data
    * dirs removed every other collision surface); anything else —
    * including unrelated "already exists" errors from the caller's own
    * transform, and staleness of some OTHER table the transform reads —
    * propagates immediately instead of burning retries */
  private def isCommitRace(e: Throwable, dir: String): Boolean =
    e.isInstanceOf[CommitConflictException] ||
      (e match {
        // normalized comparison: the same table spelled with/without a
        // scheme or trailing slash must still classify as OUR staleness
        case sv: StaleVersionException =>
          samePath(sv.tableDir, dir)
        case _ => false
      })

  private def samePath(a: String, b: String): Boolean = {
    def norm(d: String) =
      new Path(d).toUri.getPath.stripSuffix("/")
    a == b || norm(a) == norm(b)
  }

  /** IDEMPOTENT streaming commit — Delta's `txn` action: the commit
    * records (appId, batchId) in its meta header, and a commit whose
    * (appId, batchId) the table has ALREADY recorded at or above is a
    * NO-OP returning the current version. This is what makes a
    * foreachBatch snapshot sink exactly-once across a checkpointed
    * restart: the crash window between the sink's commit and the
    * engine's commit-log write replays the batch, and without the stamp
    * the replay would land a DUPLICATE version (double-counted rows for
    * an append-style fold). The txn walk reads manifest HEADERS newest-
    * first and stops at the first version stamped by this app —
    * O(versions since the app's last commit) small reads, usually one.
    * Assumes each app's batchIds commit in order (Structured
    * Streaming's per-query contract). `replace`/`replacedValues` select
    * the partition-replace commit shape, like [[commitRetry]]; a lost
    * OCC race re-checks the stamp before retrying (the racer may have
    * been the replay's twin). RETENTION-COVERS-LAG, same as the change
    * feed: the walk only sees LIVE manifests, so a replay arriving
    * after vacuum retired the app's last stamped version would
    * re-commit — keep the retention window longer than the longest
    * possible restart lag (the rule real formats document for their
    * txn action too). */
  def commitIdempotent(s: SparkSession, dir: String, df: DataFrame,
      partCol: String, appId: String, batchId: Long,
      replace: Boolean = false, replacedValues: Set[String] = Set.empty,
      statsColumns: Seq[String] = Nil, attempts: Int = 5): Long =
    commitIdempotentDetailed(s, dir, df, partCol, appId, batchId,
      replace, replacedValues, statsColumns, attempts)._1

  /** [[commitIdempotent]] plus the REPLAY signal: returns
    * `(version, committed)` where `committed = false` means the
    * (appId, batchId) stamp was already recorded and nothing was
    * written. A sink must take the no-op verdict from HERE, not from
    * comparing the returned version against its own remembered last
    * version — with a second writer on the table, a foreign commit
    * landing between the sink's restart seed and its replayed batch
    * makes the returned version differ from the remembered one, and the
    * version-compare heuristic would misread the replay as a fresh
    * commit (keeping a double-counted in-memory fold). */
  def commitIdempotentDetailed(s: SparkSession, dir: String, df: DataFrame,
      partCol: String, appId: String, batchId: Long,
      replace: Boolean = false, replacedValues: Set[String] = Set.empty,
      statsColumns: Seq[String] = Nil, attempts: Int = 5): (Long, Boolean) = {
    require(appId.nonEmpty, "Snapshots: commitIdempotent needs an appId")
    dmlRetry(s, dir, attempts) { () =>
      val fs = fsOf(s, dir)
      // ONE listing serves both the stamp walk AND the OCC pin — pinning
      // a re-resolved currentVersion instead would open a TOCTOU: a
      // replay TWIN committing between the walk and the pin would make
      // this attempt commit cleanly ON TOP of the twin's stamp (a
      // duplicate batch with no conflict to trigger the re-check). With
      // the shared listing, any commit landing after the walk forces the
      // rename to conflict, and the retry re-walks against the twin's
      // stamp.
      val vs = listVersions(fs, dir)
      // newest-first header walk, stop at this app's latest stamp
      val stamped = vs.reverse.iterator.map { v =>
        try readHeaderMeta(fs, manifestPath(dir, v))._4
        catch { case _: java.io.FileNotFoundException => None }
      }.collectFirst {
        case Some((app, b)) if app == appId => b
      }
      stamped match {
        case Some(b) if b >= batchId =>
          (vs.last, false) // already applied: no-op
        case _ =>
          (commitImpl(s, dir, df, partCol, carryUntouched = replace,
            replacedValues, expectedPrev = Some(vs.lastOption.getOrElse(0L)),
            statsColumns = statsColumns,
            op = if (replace) "replace" else "commit",
            txn = Some((appId, batchId))), true)
      }
    }
  }

  /** Epoch commit of PRE-WRITTEN data files — the `writeStream.toTable`
    * sink's landing path ([[GraftStreamingWrite]]): executor tasks
    * already wrote this epoch's parquet files (under
    * `data/v00000000_stream_<queryId>/`), and this appends ONE version
    * referencing them while every existing file carries by reference —
    * commit metadata O(epoch files + segments). Idempotent on the
    * (queryId, epochId) txn stamp exactly like [[commitIdempotent]]: a
    * replayed epoch (stamp >= epochId) deletes its duplicate files and
    * no-ops, so checkpointed restarts are exactly-once. Entries record
    * the per-column [min,max] bounds the WRITER TASKS tracked row by
    * row (zero footer IO — the stats arrive inside the commit
    * messages), so streamed appends keep full file skipping and DML
    * span selection. Refused on constraint-bearing tables — the
    * epoch's rows were written before the manifest transaction, so
    * constraints could not refuse them pre-commit; route through
    * foreachBatch + commitIdempotent there. */
  private[sources] def commitStreamedFiles(s: SparkSession, dir: String,
      partCol: String,
      files: Seq[(String, String, Long, Map[String, (String, String)])],
      appId: String, batchId: Long): (Long, Boolean) = {
    require(appId.nonEmpty, "Snapshots: commitStreamedFiles needs a queryId")
    dmlRetry(s, dir, 5) { () =>
      val fs = fsOf(s, dir)
      val vs = listVersions(fs, dir)
      require(vs.nonEmpty,
        s"Snapshots: streaming write needs a committed table at $dir " +
          "(CREATE TABLE first)")
      val stamped = vs.reverse.iterator.map { v =>
        try readHeaderMeta(fs, manifestPath(dir, v))._4
        catch { case _: java.io.FileNotFoundException => None }
      }.collectFirst {
        case Some((app, b)) if app == appId => b
      }
      stamped match {
        case Some(b) if b >= batchId =>
          // replayed epoch: the twin's files are orphans no manifest
          // will ever reference — drop them NOW (they live under a
          // stream staging dir vacuum treats by the file-grain rule)
          files.foreach { case (_, p, _, _) =>
            fs.delete(new Path(p), false)
          }
          (vs.last, false)
        case _ =>
          val prev = vs.last
          val m = readManifest(s, dir, prev)
          require(m.constraints.isEmpty,
            s"Snapshots: table at $dir carries constraints — the " +
              "streaming toTable sink cannot enforce them pre-commit; " +
              "use foreachBatch + commitIdempotent")
          val spec = PartSpec.parse(partCol)
          val v = prev + 1
          // the same value validation the batch commit path enforces —
          // a tab/newline would TEAR the line-oriented manifest (value
          // "a\tb" parses back as value "a", path "b"), a leading '#'
          // would be ambiguous with the headers; the task writer only
          // escaped the DIRECTORY name, never the recorded value
          files.foreach { case (value, path, _, _) =>
            require(!value.exists(c => c == '\t' || c == '\n'),
              s"Snapshots: streamed partition value of $path contains a " +
                "tab/newline — the line-oriented manifest cannot carry it")
            require(!value.startsWith("#"),
              s"Snapshots: streamed partition value of $path starts with " +
                "'#' — reserved for the manifest headers")
          }
          val written = files.map { case (value, path, bytes, stats) =>
            Entry(value, path, bytes, v, stats)
          }
          val entries = (m.entries ++ written).sortBy(e => (e.value, e.path))
          val (segRefs, inline) = packEntries(s, fs, dir, v, entries,
            m.segParts)
          val headers = Seq(
            m.schema.map(sc => SchemaHeader + sc.json),
            Some(MetaHeader + s"ts=${commitTs(Some(m))} op=append " +
              s"partCol=${java.net.URLEncoder.encode(spec.encode, "UTF-8")}" +
              retiredKv(m.retired) + propsKv(m.props) +
              minReaderKv(entries, spec.isLegacy) +
              s" txnApp=${java.net.URLEncoder.encode(appId, "UTF-8")} " +
              s"txnBatch=$batchId"),
            Some(statsHeader(entries))).flatten ++
            segRefs.map(_.line)
          writeManifestAtomic(fs, manifestPath(dir, v),
            (headers ++ inline.map(_.line)).mkString("\n"))
          writeHint(fs, dir, v)
          (v, true)
      }
    }
  }

  /** Partition-level change feed between two committed versions — the
    * incremental-consumption primitive: manifests are compared by
    * METADATA alone and the scan is bounded by CHANGED partitions, never
    * table size. A partition counts as changed iff some file of it in
    * `toV` carries `dataVersion > fromV` (its rows were written by a
    * commit/replace/merge inside the range) or it was dropped — so
    * carry-by-reference excludes untouched partitions with zero IO, and
    * a pure [[optimize]] compaction inside the range is INVISIBLE to the
    * feed (rewritten files carry their predecessors' dataVersion — the
    * `dataChange=false` semantics real formats' change feeds honor;
    * incremental consumers never reprocess a no-op compaction). Emits
    * the from-version's rows of changed/dropped partitions labeled
    * `change = 'removed'` and the to-version's rows of changed/added
    * partitions labeled `change = 'added'`; a downstream job re-derives
    * exactly the affected partitions' state. (Partition-level, not
    * row-level: a rewrite-based format records no row lineage, so a
    * row-level CDF would need an anti-join the consumer can do itself on
    * this bounded frame. Both sides are served under the TO version's
    * recorded schema, so the feed spans an add-column evolution — the
    * from-side's older files null-fill the added column; a TYPE-changing
    * full rewrite inside the range still fails loudly at read.) */
  def diff(s: SparkSession, dir: String, partCol: String,
      fromV: Long, toV: Long): DataFrame = {
    require(fromV >= 1 && toV > fromV,
      s"Snapshots: diff needs 1 <= fromV < toV, got $fromV..$toV")
    val mF = readManifest(s, dir, fromV)
    val mT = readManifest(s, dir, toV)
    val (removed, added) = changedSets(mF, mT, fromV)
    val schema = schemaOf(s, mT)
    def side(entries: Seq[Entry], label: String) =
      scanEntries(s, partCol, schema, entries)
        .withColumn("change", lit(label))
    side(removed, "removed").unionByName(side(added, "added"))
  }

  /** the change-feed partition rule, shared by [[diff]] and the
    * streaming source: a partition changed in (fromV, mT's version] iff
    * some file of it in mT carries `dataVersion > fromV` (new partitions
    * always qualify — their files' dataVersion IS their commit version;
    * pure compactions never do — they carry), or it was dropped.
    * Set-based lookups: O(|mF| + |mT|) driver work at any file count. */
  private[graft] def changedSets(mF: Manifest, mT: Manifest,
      fromV: Long): (Seq[Entry], Seq[Entry]) = {
    val changedTo = mT.entries.groupBy(_.value)
      .filter { case (_, es) => es.map(_.dataVersion).max > fromV }.keySet
    val tParts = mT.entries.map(_.value).toSet
    val removed = mF.entries.filter(e =>
      !tParts.contains(e.value) || changedTo(e.value))
    val added = mT.entries.filter(e => changedTo(e.value))
    (removed, added)
  }

  /** ROW-level change feed between two committed versions — Delta CDF's
    * row images derived from [[diff]]'s partition-level feed by ONE
    * keyed full-outer join over ONLY the changed partitions' two states
    * (the format records no row lineage, so this is the documented
    * anti-join "the consumer can do itself", shipped as the primitive):
    *
    *  - a key only in the to-state       -> `insert` (post image)
    *  - a key only in the from-state     -> `delete` (pre image)
    *  - a key in both, any column differs -> `update_preimage` +
    *    `update_postimage`
    *  - a key in both, all columns equal  -> NOTHING — the row merely
    *    rode along in a rewritten partition; the row-level feed
    *    suppresses it (the signal [[diff]]'s partition grain cannot)
    *
    * Cost: the join shuffles only the CHANGED partitions' rows on the
    * key — still bounded by the change, never table size. Assumes
    * key-unique states on both sides (the invariant [[merge]]
    * maintains); NULL-keyed rows never match and surface as
    * delete+insert. Schema rules follow [[diff]] (both sides under the
    * to-version's header). */
  def diffRows(s: SparkSession, dir: String, partCol: String,
      keyCol: String, fromV: Long, toV: Long): DataFrame = {
    val feed = diff(s, dir, partCol, fromV, toV)
    rowEvents(feed.filter(col("change") === "removed").drop("change"),
      feed.filter(col("change") === "added").drop("change"), keyCol)
  }

  /** the row-image kernel behind [[diffRows]] AND the streaming source's
    * rowLevel feed: one keyed full-outer join of the changed partitions'
    * two states (see [[diffRows]] for the classification table). `pre` /
    * `post` must share a schema; output = that schema + `change`. */
  private[graft] def rowEvents(pre: DataFrame, post: DataFrame,
      keyCol: String): DataFrame = {
    val cols = pre.columns.toSeq
    require(cols.contains(keyCol),
      s"Snapshots: row-feed key '$keyCol' is not a table column")
    // presence markers, not key-null checks: a NULL-keyed row must read
    // as "present on its side with no partner", never as a phantom match
    val before = pre.withColumn("__b", lit(1)).alias("b")
    val after = post.withColumn("__a", lit(1)).alias("a")
    val joined = before.join(after,
      col(s"b.$keyCol") === col(s"a.$keyCol"), "full_outer")
    val same = cols.map(c => col(s"b.$c") <=> col(s"a.$c")).reduce(_ && _)
    def img(side: String, label: String) =
      struct((cols.map(c => col(s"$side.$c").as(c))
        :+ lit(label).as("change")): _*)
    // the empty branch needs an explicit element type (array() alone is
    // ArrayType(NullType)); build it from the feed's own schema
    val eventType = ArrayType(StructType(
      cols.map(c => pre.schema(c).copy(nullable = true))
        :+ StructField("change", StringType, nullable = false)))
    val events =
      when(col("b.__b").isNull, array(img("a", "insert")))
        .when(col("a.__a").isNull, array(img("b", "delete")))
        .when(!same, array(img("b", "update_preimage"),
          img("a", "update_postimage")))
        .otherwise(array().cast(eventType))
    joined.select(explode(events).as("e")).select(col("e.*"))
  }

  /** Partition-level rewrite commit (the backfill shape): partitions
    * present in `df` get fresh data files; every OTHER partition of the
    * previous version is carried into the new manifest BY REFERENCE —
    * zero data movement for untouched partitions, and the previous
    * version keeps reading its own files.
    *
    * `replacedValues` names partition values that are REPLACED even if
    * `df` holds no rows for them — i.e. the partition becomes EMPTY in
    * the new version (its entries are dropped, not carried). Without it,
    * a rewrite that legitimately deletes a partition's every row would be
    * indistinguishable from "untouched" and the stale partition would be
    * silently carried forward — the delete-all hole a MERGE fold hits.
    * For FILE-grain rewrites (only the files a keyed delta touches), use
    * [[merge]]. */
  def commitReplace(s: SparkSession, dir: String, df: DataFrame,
      partCol: String, replacedValues: Set[String] = Set.empty,
      statsColumns: Seq[String] = Nil): Long =
    commitImpl(s, dir, df, partCol, carryUntouched = true, replacedValues,
      None, statsColumns, op = "replace")

  /** FILE-grain MERGE-as-version — the Delta add/remove-action rewrite
    * unit: fold a keyed change batch into the current version rewriting
    * ONLY the files whose recorded `keyCol` bounds may hold a delta key.
    *
    * `delta` is the pre-reduced keyed-delta contract of
    * [[graft.api.Graft.merge]] (at most one row per key) plus this
    * format's partition column: the table's columns + `op` ('U' upsert /
    * 'D' delete), with `partCol` carrying each key's partition.
    *
    * The rewrite set is chosen from METADATA ALONE: the delta's per-
    * partition [min, max] key span (folded by the one pass that
    * materializes the delta) intersected with each file's recorded
    * bounds — a conservative superset (a file overlapping the span but
    * holding none of the keys is still rewritten), with files lacking
    * `keyCol` bounds always included. On a key-clustered table ([[optimize]] with
    * clusterBy = keyCol, statsColumns = keyCol) and a localized delta,
    * that is the 1%-of-rows => ~1%-of-files rewrite; every untouched
    * file — INCLUDING untouched files of touched partitions — is carried
    * by reference, which partition-grain [[commitReplace]] cannot do.
    * Correctness never rests on selectivity: bounds are exact at write
    * time, so a file excluded from the rewrite provably holds no delta
    * key, and inserts (keys in no file) land via the merge's full-outer
    * shape. The commit is PINNED to the version the rewrite set was
    * planned from (the lost-update rule [[commitRetry]] documents).
    *
    * `statsColumns` defaults to `keyCol` so the written files keep the
    * bounds the NEXT merge plans from. Assumes key-unique tables (the
    * upsert invariant the fold maintains) and that the delta's partition
    * value is the SAME function of the key the table uses — a delta that
    * re-homes a key to a different partition would leave the old
    * partition's row in place (this format records no cross-partition
    * row lineage; the same rule as Hive-partitioned MERGE everywhere).
    * A table that was never committed is refused — seed it with
    * [[commit]]. A lost optimistic race (a racer's commit or a
    * concurrent vacuum between plan and rename) re-plans the WHOLE merge
    * against the new latest, up to `attempts` times — the same two
    * retryable signals as [[commitRetry]], with the same pinned-commit
    * guarantee per attempt. */
  def merge(s: SparkSession, dir: String, partCol: String, keyCol: String,
      delta: DataFrame, statsColumns: Seq[String] = null,
      attempts: Int = 5): Long = {
    require(attempts >= 1, "merge needs at least one attempt")
    // the keyed delta is evaluated ONCE (on the first attempt, after its
    // columns are checked) and every OCC re-plan reuses it: the rewrite
    // set's key spans and the written rows come from one evaluation,
    // even for a nondeterministic delta, and the write does not
    // evaluate it again. Its blocks are dropped when the merge ends.
    var pinned: Bridge.Pinned = null
    def keyed: Bridge.Pinned = {
      if (pinned == null) pinned = Bridge.checkpointSpans(
        delta.withColumn("__part_value", PartSpec.parse(partCol).valueExpr),
        "__part_value", keyCol)
      pinned
    }
    var last: Throwable = null
    var i = 0
    try {
      while (i < attempts) {
        try return mergeOnce(s, dir, partCol, keyCol, delta.columns.toSeq,
          keyed, statsColumns)
        catch { case e: Throwable if isCommitRace(e, dir) => last = e; i += 1 }
      }
    } finally if (pinned != null) pinned.release()
    throw new IllegalStateException(
      s"Snapshots: merge lost $attempts consecutive optimistic races at " +
        s"$dir — a hotter writer is live; back off or coordinate", last)
  }

  private def mergeOnce(s: SparkSession, dir: String, partCol: String,
      keyCol: String, deltaCols: Seq[String],
      keyed: => Bridge.Pinned, statsColumns: Seq[String]): Long = {
    val cur = currentVersion(s, dir)
    require(cur >= 1,
      s"Snapshots: merge needs a committed table at $dir — seed with commit()")
    val m = readManifest(s, dir, cur)
    val schema = schemaOf(s, m)
    require(schema.fieldNames.contains(keyCol),
      s"Snapshots: merge key '$keyCol' is not a table column")
    val spec = PartSpec.parse(partCol)
    val tableCols = schema.fieldNames.toSeq ++ spec.names
    val missing = (tableCols :+ "op").filterNot(deltaCols.contains)
    require(missing.isEmpty,
      s"Snapshots: delta is missing columns ${missing.mkString(", ")} " +
        "(the table's columns + the partition column(s) + op)")
    val keyType = schema(keyCol).dataType
    // the delta's per-partition key spans, from the materializing pass.
    // They also carry the NULL-key census: a NULL-keyed 'U' row would
    // slide through the full-outer join matching nothing and land as a
    // FRESH insert on every merge (and on every OCC re-plan) — the
    // silent key-uniqueness corruption the loud refusal here prevents.
    val spans = keyed.spans
    val nullKeyed = spans.values.map(sp => sp.rows - sp.keyed).sum
    require(nullKeyed == 0,
      s"Snapshots: merge delta holds $nullKeyed NULL-keyed row(s) — a NULL " +
        s"'$keyCol' can never match a base row (every merge would re-insert " +
        "it); filter or impute NULL keys before merging")
    val ord = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(keyType)
    // recorded cells are keyed PHYSICAL (identity unless renamed)
    val keyPhys = ColumnMapping.physicalName(schema(keyCol))
    def affected(e: Entry): Boolean = spans.get(e.value) match {
      case None => false // no delta rows target this partition
      case Some(span) =>
        if (span.lo == null) false // every key in the span is NULL: matches nothing
        else e.stats.get(keyPhys) match {
          case Some((loS, hiS)) if StatCodec.supported(keyType) =>
            try {
              val lo = StatCodec.internal(keyType, loS)
              val hi = StatCodec.internal(keyType, hiS)
              // overlap test: file [lo,hi] x delta span [span.lo,span.hi]
              !(ord.lt(span.hi, lo) || ord.gt(span.lo, hi))
            } catch { case _: Exception => true }
          case _ => true // no recorded bounds: conservatively rewritten
        }
    }
    val (rewrite, carried) = m.entries.partition(affected)
    val base = scanEntries(s, partCol, schema, rewrite)
    val delta = keyed.rows(otherBytes = rewrite.map(_.bytes).sum)
    val merged = graft.api.Graft
      .merge(base, delta.select(("op" +: tableCols).map(col): _*), keyCol)
      .drop("op")
    // partitions whose files were rewritten are DATA-CHANGED even when
    // the rewrite wrote nothing back for them (a delete that empties an
    // affected file while sibling files carry): without stamping the
    // carried siblings, the partition's max dataVersion would stay old
    // and the change feed would MISS the delete. Conservative the other
    // way is fine (a no-op rewrite shows as changed; diffRows suppresses
    // it at row grain), but a missed delete is a correctness hole —
    // caught by extending the interleaving fuzz with merge ops.
    commitImpl(s, dir, merged, partCol, carryUntouched = false, Set.empty,
      expectedPrev = Some(cur),
      statsColumns = Option(statsColumns).getOrElse(Seq(keyCol)),
      carriedOverride = Some(carried),
      dataChangeValues = rewrite.map(_.value).toSet,
      prevManifestHint = Some(m), op = "merge")
  }

  /** RESTORE-as-version (Delta's rollback): commit a NEW version whose
    * manifest lists exactly `toVersion`'s files — a pure METADATA
    * operation (zero data movement, one manifest write), so "undo the
    * last three commits" on a 100 TB table costs the same as on an
    * empty one. History is append-only: the bad versions stay readable
    * (and auditable) until vacuum retires them, and carry-by-reference
    * keeps the restored files alive even after `toVersion` itself falls
    * out of the retention window — the restored manifest references
    * them, which is exactly vacuum's keep clause.
    *
    * Change-feed semantics: partitions whose FILE SET differs between
    * the current version and the restore target are stamped data-changed
    * (the feed emits the rollback as removed-current/added-restored);
    * a difference that is pure compaction debris shows as a false
    * positive the row-level [[diffRows]] suppresses — conservative in
    * the direction that never loses a change. Restoring across an
    * add-column evolution reverts the schema header with the files (a
    * restored version is self-consistent by construction: its entries
    * and schema come from one committed manifest). No-op (returns
    * `toVersion`) when restoring to the current version. The commit is
    * PINNED to the version the restore was planned against. */
  def restore(s: SparkSession, dir: String, partCol: String,
      toVersion: Long): Long = {
    val cur = currentVersion(s, dir)
    require(cur >= 1, s"Snapshots: nothing to restore at $dir")
    if (toVersion == cur) return cur
    val mT = readManifest(s, dir, toVersion) // fails loudly if vacuumed
    val mC = readManifest(s, dir, cur)
    // a partition's ROWS changed iff its (path, dv) pairs differ — the
    // dv ref is part of row identity: a delete that only MASKED rows
    // kept every path, so a path-only compare would leave a rollback of
    // it unstamped and the change feed would never tell consumers the
    // masked rows resurrected (a CDF-materialized replica would keep
    // them deleted forever)
    val curState = mC.entries.groupBy(_.value)
      .map { case (p, es) => p -> es.map(e => (e.path, e.dv)).toSet }
    val tgtState = mT.entries.groupBy(_.value)
      .map { case (p, es) => p -> es.map(e => (e.path, e.dv)).toSet }
    val v = cur + 1
    val entries = mT.entries.map { e =>
      if (curState.get(e.value).contains(tgtState(e.value))) e
      else e.copy(dataVersion = v)
    }
    val fs = fsOf(s, dir)
    // pack against the restore TARGET's segments: unstamped entries ride
    // its refs (a rollback re-lists, never re-writes, the old metadata)
    val (segRefs, inline) = packEntries(s, fs, dir, v, entries, mT.segParts)
    val headers = Seq(
      mT.schema.map(sc => SchemaHeader + sc.json),
      // clamp against the CURRENT head (mC), not the restore target —
      // ts must stay monotone in version order. The RETIRED list is
      // monotone TABLE state, not per-version state: a rollback must
      // never forget a physical name any version ever retired (or a
      // later re-add would resurrect dropped bytes) — carry the union
      // of both sides' lists.
      Some(MetaHeader + s"ts=${commitTs(Some(mC))} op=restore " +
        s"partCol=${java.net.URLEncoder.encode(
          PartSpec.parse(partCol).encode, "UTF-8")}" +
        retiredKv((mC.retired ++ mT.retired).distinct) +
        propsKv(mC.props) +
        minReaderKv(entries, PartSpec.parse(partCol).isLegacy)),
      Some(statsHeader(entries))).flatten ++
      mT.constraints.map { case (n, q) => ConstraintHeader + n + "\t" + q } ++
      segRefs.map(_.line)
    writeManifestAtomic(fs, manifestPath(dir, v),
      (headers ++ inline.map(_.line)).mkString("\n"))
    writeHint(fs, dir, v)
    v
  }

  /** ADD a persisted CHECK constraint (Delta's ALTER TABLE ADD
    * CONSTRAINT): validates the EXISTING table first (one scan — a
    * constraint the current data violates is refused, like Delta), then
    * lands a METADATA-ONLY version whose header carries the constraint;
    * every later commit re-validates its WRITTEN rows against all active
    * constraints between write and rename, so the table can never hold
    * a violating row (SQL CHECK semantics: NULL passes). Entries carry
    * verbatim with their dataVersion — the change feed sees nothing. */
  def addConstraint(s: SparkSession, dir: String, partCol: String,
      name: String, exprSql: String): Long = {
    require(!exprSql.trim.startsWith("@"),
      "Snapshots: '@'-prefixed specs are reserved for kinded constraints " +
        "(addNotNullConstraint / addUniqueConstraint)")
    addConstraintSpec(s, dir, partCol, name, exprSql)
  }

  /** three constraint KINDS share one header slot: a CHECK is its SQL
    * expression verbatim (the legacy/primary form); NOT NULL and
    * UNIQUE-per-partition are `@notnull(col)` / `@unique(c1,c2)` kinded
    * specs ('@' can never lead a valid CHECK expression, and
    * [[addConstraint]] refuses it outright) */
  private def constraintKind(spec: String): (String, Seq[String]) = {
    val t = spec.trim
    if (t.startsWith("@notnull(") && t.endsWith(")"))
      ("notnull", Seq(t.stripPrefix("@notnull(").stripSuffix(")").trim))
    else if (t.startsWith("@unique(") && t.endsWith(")"))
      ("unique", t.stripPrefix("@unique(").stripSuffix(")")
        .split(",").toSeq.map(_.trim).filter(_.nonEmpty))
    else ("check", Nil)
  }

  /** the row-local violation predicate (TRUE = row violates) for CHECK
    * and NOT NULL specs; UNIQUE is not row-local (see the commit path) */
  private def rowViolation(spec: String): org.apache.spark.sql.Column =
    constraintKind(spec) match {
      case ("notnull", Seq(c)) => col(c).isNull
      case _ => coalesce(expr(spec), lit(true)) === false
    }

  private def addConstraintSpec(s: SparkSession, dir: String,
      partCol: String, name: String, spec: String): Long = {
    require(name.nonEmpty && !name.exists(c => c == '\t' || c == '\n') &&
      !spec.exists(c => c == '\t' || c == '\n'),
      "Snapshots: constraint name/expression cannot contain tab/newline")
    val cur = currentVersion(s, dir)
    require(cur >= 1, s"Snapshots: no committed table at $dir")
    val m = readManifest(s, dir, cur)
    require(!m.constraints.exists(_._1 == name),
      s"Snapshots: constraint '$name' already exists")
    // add-time validation of the EXISTING table — one scan either way:
    // row-local kinds count violating rows; unique counts violating
    // key groups (per partition, the grain the format can promise)
    val frame = scanEntries(s, partCol, schemaOf(s, m), m.entries)
    val bad = constraintKind(spec) match {
      case ("unique", cols) =>
        require(cols.nonEmpty, "Snapshots: UNIQUE needs >= 1 column")
        // SQL UNIQUE NULL semantics: NULL-bearing keys never conflict
        frame.filter(cols.map(c => col(c).isNotNull).reduce(_ && _))
          .groupBy((PartSpec.parse(partCol).names ++ cols).map(col): _*)
          .agg(count(lit(1)).as("__c0"))
          .filter(col("__c0") > 1).count()
      case _ => frame.filter(rowViolation(spec)).count()
    }
    require(bad == 0,
      s"Snapshots: cannot add constraint '$name' ($spec) — $bad existing " +
        "row(s)/group(s) violate it")
    commitConstraintState(s, dir, cur, m, m.constraints :+ (name -> spec),
      "add_constraint")
  }

  /** declared NOT NULL (Delta's ALTER COLUMN ... SET NOT NULL): unlike
    * CHECK's SQL semantics, a NULL row VIOLATES. Validated against the
    * existing table in one pass, then enforced on every commit's written
    * rows inside the same single aggregate as the CHECKs. */
  def addNotNullConstraint(s: SparkSession, dir: String, partCol: String,
      name: String, column: String): Long = {
    val cur = currentVersion(s, dir)
    require(cur >= 1, s"Snapshots: no committed table at $dir")
    val m = readManifest(s, dir, cur)
    require(schemaOf(s, m).fieldNames.contains(column),
      s"Snapshots: NOT NULL column '$column' is not a table column")
    addConstraintSpec(s, dir, partCol, name, s"@notnull($column)")
  }

  /** declared UNIQUE-per-partition: every commit must leave at most one
    * non-NULL row per (partition, columns) group within each partition
    * it TOUCHES — the invariant [[merge]] maintains for its key,
    * promoted to a declared, enforced table property. Enforcement scope
    * is the written rows plus the carried files of touched partitions
    * (a file-grain rewrite can duplicate against an untouched sibling
    * file, so written-rows-only would miss it); untouched partitions
    * were valid before the commit and no commit can change them, so the
    * check stays bounded by the commit's footprint, never table size. */
  def addUniqueConstraint(s: SparkSession, dir: String, partCol: String,
      name: String, columns: Seq[String]): Long = {
    val cur = currentVersion(s, dir)
    require(cur >= 1, s"Snapshots: no committed table at $dir")
    val m = readManifest(s, dir, cur)
    val missing = columns.filterNot(schemaOf(s, m).fieldNames.contains)
    require(missing.isEmpty,
      s"Snapshots: UNIQUE column(s) ${missing.mkString(", ")} are not " +
        "table columns")
    addConstraintSpec(s, dir, partCol, name,
      s"@unique(${columns.mkString(",")})")
  }

  /** [[addConstraint]] with [[merge]]'s OCC re-plan loop: a racer's
    * commit landing between the validation scan and the rename re-reads
    * AND re-validates against the new state (the new rows must satisfy
    * the constraint too) */
  def addConstraintRetry(s: SparkSession, dir: String, partCol: String,
      name: String, exprSql: String, attempts: Int = 5): Long =
    dmlRetry(s, dir, attempts)(() =>
      addConstraint(s, dir, partCol, name, exprSql))

  /** [[dropConstraint]] with the OCC re-plan loop */
  def dropConstraintRetry(s: SparkSession, dir: String, name: String,
      attempts: Int = 5): Long =
    dmlRetry(s, dir, attempts)(() => dropConstraint(s, dir, name))

  /** DROP a persisted CHECK constraint — metadata-only. */
  def dropConstraint(s: SparkSession, dir: String, name: String): Long = {
    val cur = currentVersion(s, dir)
    require(cur >= 1, s"Snapshots: no committed table at $dir")
    val m = readManifest(s, dir, cur)
    require(m.constraints.exists(_._1 == name),
      s"Snapshots: no constraint named '$name' to drop")
    commitConstraintState(s, dir, cur, m,
      m.constraints.filterNot(_._1 == name), "drop_constraint")
  }

  /** the active CHECK constraints at `version` (-1 = latest) */
  def constraints(s: SparkSession, dir: String,
      version: Long = -1L): Seq[(String, String)] = {
    val v = if (version < 0) currentVersion(s, dir) else version
    require(v >= 1, s"Snapshots: no committed version at $dir")
    readManifest(s, dir, v).constraints
  }

  private def commitConstraintState(s: SparkSession, dir: String, cur: Long,
      m: Manifest, next: Seq[(String, String)], opName: String): Long =
    commitHeaderState(s, dir, cur, m, m.schema, next, m.retired, opName)

  /** METADATA-ONLY commit: a new version whose entries carry VERBATIM
    * (every predecessor segment rides as a ref) under a changed header —
    * the shape constraint add/drop and column rename/drop share */
  private def commitHeaderState(s: SparkSession, dir: String, cur: Long,
      m: Manifest, schema: Option[StructType],
      constraints: Seq[(String, String)], retired: Seq[String],
      opName: String, propsOverride: Option[Map[String, String]] = None)
      : Long = {
    val v = cur + 1
    val fs = fsOf(s, dir)
    val (segRefs, inline) = packEntries(s, fs, dir, v, m.entries, m.segParts)
    val headers = Seq(
      schema.map(sc => SchemaHeader + sc.json),
      Some(MetaHeader + s"ts=${commitTs(Some(m))} op=$opName" +
        m.partCol.map(pc =>
          s" partCol=${java.net.URLEncoder.encode(pc, "UTF-8")}")
          .getOrElse("") + retiredKv(retired) +
        propsKv(propsOverride.getOrElse(m.props)) +
        minReaderKv(m.entries,
          m.partCol.forall(pc => PartSpec.parse(pc).isLegacy))),
      Some(statsHeader(m.entries))).flatten ++
      constraints.map { case (n, q) => ConstraintHeader + n + "\t" + q } ++
      segRefs.map(_.line)
    writeManifestAtomic(fs, manifestPath(dir, v),
      (headers ++ inline.map(_.line)).mkString("\n"))
    writeHint(fs, dir, v)
    v
  }

  /** the top-level column names a constraint spec references — what
    * refuses renaming/dropping a column out from under a constraint
    * (kinded specs name their columns directly; CHECKs parse) */
  private def constraintRefs(s: SparkSession, spec: String): Set[String] =
    constraintKind(spec) match {
      case ("notnull", cols) => cols.toSet
      case ("unique", cols) => cols.toSet
      case _ =>
        s.sessionState.sqlParser.parseExpression(spec).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.head
        }.toSet
    }

  /** RENAME a column — METADATA-ONLY (Delta column-mapping semantics):
    * the field keeps its id and physical name, only the logical name in
    * the new header changes; zero data movement, entries carry verbatim,
    * every earlier version keeps serving its own names, and the change
    * feed sees nothing (dataChange=false). Refused when the new name is
    * taken, when either side is the partition column, or when a CHECK
    * constraint references the old name (Delta's rule — drop the
    * constraint first). */
  def renameColumn(s: SparkSession, dir: String, oldName: String,
      newName: String): Long = {
    val cur = currentVersion(s, dir)
    require(cur >= 1, s"Snapshots: no committed table at $dir")
    val m = readManifest(s, dir, cur)
    val schema = m.schema.getOrElse(throw new IllegalArgumentException(
      s"Snapshots: the manifest at $dir predates schema headers — " +
        "recommit once under the current format before renaming"))
    // the partition guard comes FIRST: partition columns are not in the
    // data-schema header, so a later "no column" error would mask the
    // real reason a partition rename is refused
    val partNames = m.partCol.map(pc => PartSpec.parse(pc).names)
      .getOrElse(Nil)
    require(!partNames.contains(oldName) && !partNames.contains(newName),
      "Snapshots: cannot rename a partition column (its value travels " +
        "through directory names) or shadow one")
    require(schema.fieldNames.contains(oldName),
      s"Snapshots: no column '$oldName' to rename")
    require(!schema.fieldNames.contains(newName),
      s"Snapshots: column '$newName' already exists")
    require(!newName.startsWith("__"),
      s"Snapshots: '$newName' is reserved ('__' prefix)")
    val inUse = m.constraints.filter { case (_, sql) =>
      constraintRefs(s, sql).contains(oldName) }
    require(inUse.isEmpty,
      s"Snapshots: column '$oldName' is referenced by constraint(s) " +
        s"${inUse.map(_._1).mkString(", ")} — drop them first")
    val next = StructType(schema.fields.map { f =>
      if (f.name == oldName) {
        // pin the physical name EXPLICITLY: it no longer equals the
        // logical name, and every file ever written stores it
        val mb = new MetadataBuilder().withMetadata(f.metadata)
          .putString(ColumnMapping.PhysKey, ColumnMapping.physicalName(f))
        f.copy(name = newName, metadata = mb.build())
      } else f
    })
    commitHeaderState(s, dir, cur, m, Some(next), m.constraints, m.retired,
      "rename_column")
  }

  /** ADD a column — METADATA-ONLY (Delta's ALTER TABLE ADD COLUMNS):
    * the field joins the header with a fresh id and a physical name
    * that can never collide with a retired or in-use one; every
    * existing file lacks it and reads back NULL (the parquet
    * missing-column semantics the format's evolution contract already
    * serves for carried files). NULLABLE BY CONSTRUCTION — a non-null
    * added column would be a false promise over every existing row.
    * The alternative full-snapshot commit stays available for adds
    * that must backfill values. */
  def addColumn(s: SparkSession, dir: String, name: String,
      dataType: DataType): Long = {
    val cur = currentVersion(s, dir)
    require(cur >= 1, s"Snapshots: no committed table at $dir")
    val m = readManifest(s, dir, cur)
    val schema = m.schema.getOrElse(throw new IllegalArgumentException(
      s"Snapshots: the manifest at $dir predates schema headers — " +
        "recommit once under the current format before evolving"))
    require(!schema.fieldNames.contains(name),
      s"Snapshots: column '$name' already exists")
    require(!name.startsWith("__"),
      s"Snapshots: '$name' is reserved ('__' prefix)")
    val partNames = m.partCol.map(pc => PartSpec.parse(pc).names)
      .getOrElse(Nil)
    require(!partNames.contains(name),
      s"Snapshots: '$name' would shadow a partition column")
    val next = ColumnMapping.assign(
      StructType(schema.fields.toSeq :+
        StructField(name, dataType, nullable = true)),
      Some(schema), m.retired)
    commitHeaderState(s, dir, cur, m, Some(next), m.constraints, m.retired,
      "add_column")
  }

  /** DROP a column — METADATA-ONLY: the field leaves the header (reads
    * simply stop projecting it; the bytes stay in carried files until
    * those files are naturally rewritten) and its PHYSICAL name is
    * RETIRED forever, so a later add of the same logical name binds to a
    * fresh physical name and can never resurrect the dropped data.
    * Refused for the last data column and for constraint-referenced
    * columns. */
  def dropColumn(s: SparkSession, dir: String, name: String): Long = {
    val cur = currentVersion(s, dir)
    require(cur >= 1, s"Snapshots: no committed table at $dir")
    val m = readManifest(s, dir, cur)
    val schema = m.schema.getOrElse(throw new IllegalArgumentException(
      s"Snapshots: the manifest at $dir predates schema headers — " +
        "recommit once under the current format before dropping"))
    require(schema.fieldNames.contains(name),
      s"Snapshots: no column '$name' to drop")
    require(schema.fields.length >= 2,
      "Snapshots: cannot drop the last data column")
    val inUse = m.constraints.filter { case (_, sql) =>
      constraintRefs(s, sql).contains(name) }
    require(inUse.isEmpty,
      s"Snapshots: column '$name' is referenced by constraint(s) " +
        s"${inUse.map(_._1).mkString(", ")} — drop them first")
    val dropped = schema(name)
    commitHeaderState(s, dir, cur, m,
      Some(StructType(schema.fields.filterNot(_.name == name))),
      m.constraints,
      (m.retired :+ ColumnMapping.physicalName(dropped)).distinct,
      "drop_column")
  }

  /** split `entries` into (possibly-matching, provably-not-matching) for
    * a row predicate, from RECORDED METADATA alone: each file's bounds
    * are consulted through the exact same conservative three-valued
    * logic the scan's file skipping uses
    * ([[org.apache.spark.sql.graftbridge.ManifestFileIndex.couldMatch]] —
    * one source of truth), with the partition value treated as a stats
    * column whose lo = hi = value, so partition predicates prune
    * exactly. Unresolved predicate columns fail loudly. */
  private def splitByPredicate(s: SparkSession,
      where: org.apache.spark.sql.Column, partCol: String,
      schema: StructType, entries: Seq[Entry]): (Seq[Entry], Seq[Entry]) = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
    val spec = PartSpec.parse(partCol)
    val full = StructType(schema.fields.toSeq ++ spec.struct.fields)
    // resolve + constant-fold the predicate through the REAL analyzer and
    // optimizer against a dummy RDD-backed frame with the table's schema
    // (an RDD relation so the optimizer can neither evaluate the filter
    // away nor propagate emptiness unless the predicate is a constant):
    // the surviving Filter condition carries properly-typed attributes
    // and folded literals — exactly what couldMatch's bound checks need.
    // A Column-DSL tree taken raw would still be UNRESOLVED
    // (ColumnNode wrappers), matching no pattern and defeating all
    // selectivity — the bug this resolution path replaced.
    val dummy = s.createDataFrame(
      s.sparkContext.parallelize(Seq.empty[org.apache.spark.sql.Row]), full)
    val opt =
      try dummy.filter(where).queryExecution.optimizedPlan
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"Snapshots: predicate does not resolve against the table's " +
              s"schema (${full.simpleString}): ${e.getMessage}")
      }
    opt.collectFirst { case f: Filter => f.condition } match {
      case None =>
        // the optimizer removed the filter: a constant predicate —
        // FALSE leaves an empty LocalRelation (nothing matches),
        // TRUE leaves the bare relation (everything does)
        if (opt.isInstanceOf[LocalRelation]) (Nil, entries)
        else (entries, Nil)
      case Some(cond) =>
        // manifests record stats under PHYSICAL column names; the
        // predicate resolved against LOGICAL names — translate its
        // attributes before consulting the bounds (identity for
        // never-renamed tables)
        val toPhys = ColumnMapping.toPhysical(schema)
        val physCond = cond.transform {
          case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
              if toPhys.get(a.name).exists(_ != a.name) =>
            a.withName(toPhys(a.name))
        }
        val physSchema = ColumnMapping.physicalStruct(schema)
        val types = (physSchema.fields.map(f => f.name -> f.dataType) ++
          spec.cols.map(f => f.name -> f.dataType)).toMap
        val files = indexFiles(spec, physSchema, entries)
        val flags = entries.zip(files).map { case (e, mf) =>
          // each partition value IS a per-file bound with lo = hi =
          // value (in the column's OWN catalyst type), so partition
          // predicates — typed date/int comparisons included — prune
          // exactly
          val stats = mf.stats ++ spec.cols.zip(spec.split(e.value)).map {
            case (f, v) =>
              val iv = PartSpec.castInternal(f.dataType, v)
              f.name -> (Option(iv), Option(iv))
          }
          org.apache.spark.sql.graftbridge.ManifestFileIndex
            .couldMatch(physCond, stats, types, mf.blooms)
        }
        val (hit, miss) = entries.zip(flags).partition(_._2)
        (hit.map(_._1), miss.map(_._1))
    }
  }

  /** DELETE WHERE as a version (Delta's DELETE DML): rewrite ONLY the
    * files whose recorded bounds may hold a matching row — everything
    * the bounds PROVE clean (including clean files of touched
    * partitions) carries by reference, so on a clustered table a
    * range-predicate delete costs the matching files, never the table.
    * Rows where the predicate is NULL are KEPT (SQL DELETE semantics).
    * No-op (current version back, no commit) when no file can match.
    * Rewritten files keep every column's recorded bounds; the commit is
    * pinned, with [[merge]]'s OCC re-plan loop on a lost race. */
  def delete(s: SparkSession, dir: String,
      partCol: String, where: org.apache.spark.sql.Column,
      attempts: Int = 5): Long =
    dmlRetry(s, dir, attempts) { () =>
      val cur = currentVersion(s, dir)
      require(cur >= 1, s"Snapshots: nothing to delete at $dir")
      val m = readManifest(s, dir, cur)
      val schema = schemaOf(s, m)
      val (affected, carried) = splitByPredicate(s, where, partCol, schema, m.entries)
      if (affected.isEmpty) cur
      else if (dvMaxFraction(s, m) > 0.0)
        deleteWithDv(s, dir, partCol, where, m, schema, affected, carried, cur)
      else {
        val survivors = scanEntries(s, partCol, schema, affected)
          .filter(!coalesce(where, lit(false)))
        commitImpl(s, dir, survivors, partCol, carryUntouched = false,
          Set.empty, expectedPrev = Some(cur),
          statsColumns = keepableStats(schema, affected),
          carriedOverride = Some(carried),
          dataChangeValues = affected.map(_.value).toSet,
          prevManifestHint = Some(m), op = "delete")
      }
    }

  /** DELETE under deletion vectors (Delta's DV write path): ONE counting
    * pass over the bounds-affected files decides each file's fate —
    * zero hits -> carry untouched (the bounds false positive no longer
    * costs a rewrite), every live row hit -> the entry is DROPPED with
    * no IO at all, a small hit fraction (<= dvMaxFraction) -> the file
    * carries with its mask extended (old ∪ matched ordinals, one new
    * sidecar per commit), and only the rest rewrite. Write
    * amplification for a needle delete falls from O(file) to
    * O(deleted ordinals); the commit is still one atomic manifest
    * version, and time-travel/CDF semantics are unchanged because
    * masked entries stamp `dataVersion` exactly like rewritten ones. */
  private def deleteWithDv(s: SparkSession, dir: String, partCol: String,
      where: org.apache.spark.sql.Column, m: Manifest, schema: StructType,
      affected: Seq[Entry], carried: Seq[Entry], cur: Long): Long = {
    val dvMax = dvMaxFraction(s, m)
    val hit = coalesce(where, lit(false))
    val liveHits = dvLiveHits(s, partCol, schema, affected, hit)
    val (touched, clean) = affected.partition(e => liveHits(e)._2 > 0)
    if (touched.isEmpty) return cur // bounds false positives only: no-op
    val (dead, partial) = touched.partition { e =>
      val (l, h) = liveHits(e); h >= l
    }
    val (masked, rewrite) = partial.partition { e =>
      val (l, h) = liveHits(e); h.toDouble / l <= dvMax
    }
    val dvEntries = extendMasks(s, dir, cur + 1, masked,
      scanEntriesWithPos(s, partCol, schema, masked).filter(hit).select(
        col("__pos_file").as("__dv_path"), col("__pos_idx").as("__dv_ord")))
    val survivors = scanEntries(s, partCol, schema, rewrite).filter(!hit)
    commitImpl(s, dir, survivors, partCol, carryUntouched = false,
      Set.empty, expectedPrev = Some(cur),
      statsColumns = keepableStats(schema, rewrite),
      carriedOverride = Some(carried ++ clean ++ dvEntries),
      dataChangeValues = touched.map(_.value).toSet,
      prevManifestHint = Some(m), op = "delete")
  }

  /** UPDATE ... SET ... WHERE as a version: same metadata-chosen rewrite
    * set as [[delete]]; matched rows get each `set` expression (cast to
    * the column's recorded type — the schema contract cannot drift),
    * NULL-predicate rows stay unchanged (SQL semantics). The partition
    * column cannot be SET (an update that re-homes rows across
    * partitions is a [[merge]], which owns key lineage). */
  def update(s: SparkSession, dir: String, partCol: String,
      where: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      attempts: Int = 5): Long =
    dmlRetry(s, dir, attempts) { () =>
      require(set.nonEmpty, "Snapshots: update needs at least one SET column")
      PartSpec.parse(partCol).names.filter(set.contains) match {
        case Seq() => ()
        case hitCols => throw new IllegalArgumentException(
          s"Snapshots: cannot SET partition column(s) " +
            s"${hitCols.mkString(", ")} — a rewrite that re-homes rows " +
            "across partitions is a merge")
      }
      val cur = currentVersion(s, dir)
      require(cur >= 1, s"Snapshots: nothing to update at $dir")
      val m = readManifest(s, dir, cur)
      val schema = schemaOf(s, m)
      val unknown = set.keySet.filterNot(schema.fieldNames.contains)
      require(unknown.isEmpty,
        s"Snapshots: SET references unknown column(s) ${unknown.mkString(", ")}")
      val (affected, carried) = splitByPredicate(s, where, partCol, schema, m.entries)
      if (affected.isEmpty) cur
      else if (dvMaxFraction(s, m) > 0.0)
        updateWithDv(s, dir, partCol, where, set, m, schema, affected,
          carried, cur)
      else {
        // the WHERE verdict is projected ONCE per row (__hit) and every
        // SET column keys off that one boolean: a non-deterministic
        // predicate evaluated per column would tear rows (column a
        // updated, column b not — a state matching neither image);
        // CollapseProject keeps non-deterministic projections
        // materialized, so this is load-bearing, not style
        val cols = schema.fields.toSeq.map { f =>
          set.get(f.name)
            .map(e => when(col("__hit"), e.cast(f.dataType))
              .otherwise(col(f.name)).as(f.name))
            .getOrElse(col(f.name))
        } ++ PartSpec.parse(partCol).names.map(col)
        val rewritten = scanEntries(s, partCol, schema, affected)
          .withColumn("__hit", coalesce(where, lit(false)))
          .select(cols: _*)
        commitImpl(s, dir, rewritten, partCol, carryUntouched = false,
          Set.empty, expectedPrev = Some(cur),
          statsColumns = keepableStats(schema, affected),
          carriedOverride = Some(carried),
          dataChangeValues = affected.map(_.value).toSet,
          prevManifestHint = Some(m), op = "update")
      }
    }

  /** UPDATE under deletion vectors: a file whose matched fraction is
    * small keeps its bytes — the matched rows' OLD images are masked
    * (same sidecar mechanics as [[deleteWithDv]]) and their NEW images
    * append as fresh files of the same partitions; only heavily-matched
    * files rewrite whole. The matched-row projection applies every SET
    * expression after ONE materialized predicate evaluation, so a
    * non-deterministic WHERE cannot tear a row across two images. */
  private def updateWithDv(s: SparkSession, dir: String, partCol: String,
      where: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column], m: Manifest,
      schema: StructType, affected: Seq[Entry], carried: Seq[Entry],
      cur: Long): Long = {
    val dvMax = dvMaxFraction(s, m)
    val hit = coalesce(where, lit(false))
    val liveHits = dvLiveHits(s, partCol, schema, affected, hit)
    val (touched, clean) = affected.partition(e => liveHits(e)._2 > 0)
    if (touched.isEmpty) return cur
    val (masked, rewrite) = touched.partition { e =>
      val (l, h) = liveHits(e); h < l && h.toDouble / l <= dvMax
    }
    val (dvEntries, newImages) =
      if (masked.isEmpty)
        (Nil, None)
      else {
        // ONE materialized evaluation of the predicate feeds both the
        // mask and the images — a non-deterministic WHERE re-evaluated
        // between them could mask one row set and append another
        val posM = scanEntriesWithPos(s, partCol, schema, masked)
          .filter(hit).localCheckpoint()
        val dvEs = extendMasks(s, dir, cur + 1, masked, posM.select(
          col("__pos_file").as("__dv_path"), col("__pos_idx").as("__dv_ord")))
        val images = posM.select(schema.fields.toSeq.map(f =>
          set.get(f.name).map(_.cast(f.dataType).as(f.name))
            .getOrElse(col(f.name))) ++
          PartSpec.parse(partCol).names.map(col): _*)
        (dvEs, Some(images))
      }
    val cols = schema.fields.toSeq.map { f =>
      set.get(f.name)
        .map(e => when(col("__hit"), e.cast(f.dataType))
          .otherwise(col(f.name)).as(f.name))
        .getOrElse(col(f.name))
    } ++ PartSpec.parse(partCol).names.map(col)
    val rewritten = scanEntries(s, partCol, schema, rewrite)
      .withColumn("__hit", hit)
      .select(cols: _*)
    val df = newImages.fold(rewritten)(rewritten.unionByName(_))
    commitImpl(s, dir, df, partCol, carryUntouched = false,
      Set.empty, expectedPrev = Some(cur),
      statsColumns = keepableStats(schema, rewrite ++ masked),
      carriedOverride = Some(carried ++ clean ++ dvEntries),
      dataChangeValues = touched.map(_.value).toSet,
      prevManifestHint = Some(m), op = "update")
  }

  /** One matched-clause action of [[mergeRows]], in SQL clause order —
    * first matching clause wins, like Spark/Delta MERGE. Conditions and
    * SET expressions see the JOINED row: target columns by their names,
    * source columns as `__src_<name>` (the reserved prefix guarantees no
    * collision with user columns; the SQL surface rewrites `s.x` /
    * `t.x` qualifiers accordingly). */
  sealed trait MergeAction
  final case class MergeUpdate(cond: Option[org.apache.spark.sql.Column],
      set: Map[String, org.apache.spark.sql.Column]) extends MergeAction
  final case class MergeDelete(
      cond: Option[org.apache.spark.sql.Column]) extends MergeAction

  /** ROW-grain MERGE over the deletion-vector base — the shape the
    * file-grain [[merge]] deliberately refuses (`UPDATE SET col = expr`
    * assignment lists, conditional matched clauses) because it needs
    * matched-ROW addressability: each matched target row's old image is
    * masked via a DV sidecar (same mechanics as [[deleteWithDv]]) and
    * its new image — target columns with the winning clause's SET
    * expressions applied, which may reference source columns — appends
    * as fresh files, alongside the not-matched inserts. File selection
    * is the same metadata-only bounds intersection as [[merge]]: only
    * files whose recorded `keyCol` bounds may hold a source key are
    * scanned at all, and even those are never rewritten — only masked —
    * so write amplification is O(matched + inserted rows). Requires
    * `spark.graft.snapshot.dvEnabled` (the row-addressability opt-in)
    * and a key-unique source (refused otherwise — one source row
    * updating one target row is the only exact semantics; Delta errors
    * on multi-match the same way). `insertUnmatched` = the
    * `WHEN NOT MATCHED THEN INSERT *` clause; the source must then
    * carry every table column plus `partCol`. Matched rows that no
    * clause claims stay untouched (served by their files as before).
    *
    * `bySource` = the `WHEN NOT MATCHED BY SOURCE` clause chain
    * (Delta's dimension-reconciliation shape: expire/retag target rows
    * absent from the source). Its conditions and SET expressions see
    * the TARGET row alone — no `__src_` columns exist for an unmatched
    * row. COST IS STATED HONESTLY: matched clauses scan only the files
    * whose key bounds overlap the source span, but a by-source clause
    * is definitionally about every OTHER row too, so it scans ALL live
    * files once (one anti join against the broadcast source keys);
    * write amplification stays O(claimed rows) via the DV masks. */
  def mergeRows(s: SparkSession, dir: String, partCol: String,
      keyCol: String, source: DataFrame, matched: Seq[MergeAction],
      insertUnmatched: Boolean, attempts: Int = 5,
      bySource: Seq[MergeAction] = Nil): Long =
    mergeRowsKeys(s, dir, partCol, Seq(keyCol), source, matched,
      insertUnmatched, attempts, bySource)

  /** [[mergeRows]] with a COMPOSITE key — `ON t.a = s.a AND t.b = s.b`
    * (the multi-part join condition Spark's MERGE grammar allows and
    * dimension tables routinely need). Same contracts per key TUPLE:
    * the source must be tuple-unique and no key column NULL; file
    * selection intersects EVERY key column's recorded bounds with the
    * source's span (conjunctive, so pruning only sharpens). */
  def mergeRowsKeys(s: SparkSession, dir: String, partCol: String,
      keyCols: Seq[String], source: DataFrame, matched: Seq[MergeAction],
      insertUnmatched: Boolean, attempts: Int = 5,
      bySource: Seq[MergeAction] = Nil): Long = {
    require(keyCols.nonEmpty && keyCols.distinct.size == keyCols.size,
      "Snapshots: mergeRows needs >= 1 distinct key column")
    require(matched.nonEmpty || insertUnmatched || bySource.nonEmpty,
      "Snapshots: mergeRows needs at least one clause")
    dmlRetry(s, dir, attempts)(() =>
      mergeRowsOnce(s, dir, partCol, keyCols, source, matched,
        insertUnmatched, bySource))
  }

  private def mergeRowsOnce(s: SparkSession, dir: String, partCol: String,
      keyCols: Seq[String], source: DataFrame, matched: Seq[MergeAction],
      insertUnmatched: Boolean, bySource: Seq[MergeAction]): Long = {
    val cur = currentVersion(s, dir)
    require(cur >= 1,
      s"Snapshots: mergeRows needs a committed table at $dir")
    val m = readManifest(s, dir, cur)
    // the DV gate is TABLE-AWARE (graft.dv.enabled table property or
    // the session conf) — checked here where the manifest is in hand
    require(dvMaxFraction(s, m) > 0.0,
      "Snapshots: mergeRows needs deletion vectors — set the " +
        "spark.graft.snapshot.dvEnabled session conf or the " +
        "graft.dv.enabled table property (the canonical UPDATE SET * / " +
        "INSERT * shapes run without it via merge())")
    val schema = schemaOf(s, m)
    keyCols.foreach { keyCol =>
      require(schema.fieldNames.contains(keyCol),
        s"Snapshots: merge key '$keyCol' is not a table column")
      require(source.columns.contains(keyCol),
        s"Snapshots: source is missing the key column '$keyCol'")
    }
    val spec = PartSpec.parse(partCol)
    if (insertUnmatched) {
      val missing = (schema.fieldNames.toSeq ++ spec.names)
        .filterNot(source.columns.contains)
      require(missing.isEmpty,
        s"Snapshots: INSERT * needs the source to carry " +
          s"${missing.mkString(", ")}")
    }
    // the source is PINNED first (localCheckpoint): the census below,
    // the span, the join, and the image projection must all see ONE
    // evaluation — a census run on the un-pinned frame could pass while
    // a non-deterministic source re-materializes duplicate or NULL keys
    // for the actual merge (the exact ambiguity the census refuses)
    val src = source.localCheckpoint()
    // source keys must be unique AND non-null: a multi-match would make
    // the masked-row/new-image pairing ambiguous (Delta errors the same
    // way), a NULL key matches nothing and would re-insert forever
    val census = src.agg(count(lit(1)).as("n"),
      count(when(keyCols.map(c => col(c).isNotNull).reduce(_ && _), 1))
        .as("nk"),
      count_distinct(struct(keyCols.map(col): _*)).as("nd")).collect()(0)
    require(census.getLong(0) == census.getLong(1),
      s"Snapshots: mergeRows source holds " +
        s"${census.getLong(0) - census.getLong(1)} NULL-keyed row(s)")
    require(census.getLong(1) == census.getLong(2),
      "Snapshots: mergeRows source keys are not unique — one source row " +
        "per target row is the only exact row-grain semantics")
    // bounds-selected files, same conservative rule as merge(): only
    // files whose recorded bounds overlap EVERY key column's source
    // span can hold a match (conjunctive intersection)
    val spanAggs = keyCols.flatMap(c => Seq(min(col(c)), max(col(c))))
    val spanRow = src.agg(spanAggs.head, spanAggs.tail: _*).collect()(0)
    val (affected, carried) =
      if (spanRow.isNullAt(0)) (Nil, m.entries) // empty source
      else splitByPredicate(s,
        keyCols.zipWithIndex.map { case (c, i) =>
          col(c).between(lit(spanRow.get(2 * i)),
            lit(spanRow.get(2 * i + 1)))
        }.reduce(_ && _),
        partCol, schema, m.entries)
    // the joined view every clause evaluates on: target columns bare,
    // source columns __src_-prefixed (reserved namespace — user columns
    // can never collide)
    val srcPref = src.select(src.columns.toSeq.map(c =>
      col(c).as(s"__src_$c")): _*)
    val keyJoin = keyCols.map(c =>
      col(c) === col(s"__src_$c")).reduce(_ && _)
    val joined = scanEntriesWithPos(s, partCol, schema, affected)
      .join(srcPref, keyJoin, "inner")
    // first-matching-clause-wins op column (foldRight puts clause 0's
    // `when` outermost): U<i> selects clause i's SET list, D deletes,
    // NULL = no clause claims the row — it stays untouched
    def opColOf(actions: Seq[MergeAction]): org.apache.spark.sql.Column =
      actions.zipWithIndex
        .foldRight(lit(null).cast("string")) { case ((a, i), tail) =>
          val (cond, tag) = a match {
            case MergeUpdate(c, _) => (c, s"U$i")
            case MergeDelete(c) => (c, "D")
          }
          when(cond.getOrElse(lit(true)), lit(tag)).otherwise(tail)
        }
    val claimed = joined.withColumn("__op", opColOf(matched))
      .filter(col("__op").isNotNull).localCheckpoint()
    // WHEN NOT MATCHED BY SOURCE: target rows whose key matches NO
    // source key, claimed by the by-source clause chain evaluated on
    // the TARGET row alone. Every live file is scanned ONCE (an anti
    // join against the key-unique source — no bounds pruning can apply:
    // the clause is definitionally about rows everywhere), but the
    // write stays O(claimed rows) through the same DV masks.
    val claimedB =
      if (bySource.isEmpty) None
      else Some(scanEntriesWithPos(s, partCol, schema, m.entries)
        .join(srcPref.select(keyCols.map(c => col(s"__src_$c")): _*),
          keyJoin, "left_anti")
        .withColumn("__op", opColOf(bySource))
        .filter(col("__op").isNotNull).localCheckpoint())
    val dvEntries = {
      val pairFrames = Seq(claimed) ++ claimedB.toSeq
      val touchedPaths = pairFrames.map(_.select(col("__pos_file")))
        .reduce(_ unionByName _).distinct()
        .collect().map(r => metaPath(r.getString(0))).toSet
      val touched = m.entries.filter(e => touchedPaths(normPath(e.path)))
      extendMasks(s, dir, cur + 1, touched,
        pairFrames.map(_.select(col("__pos_file").as("__dv_path"),
          col("__pos_idx").as("__dv_ord"))).reduce(_ unionByName _))
    }
    val touchedPathSet = dvEntries.map(e => normPath(e.path)).toSet
    // new images per UPDATE clause (each clause has its own SET list);
    // by-source images project the TARGET row through its SET list
    def imagesOf(actions: Seq[MergeAction],
        rows: DataFrame): Seq[DataFrame] = actions.zipWithIndex.collect {
      case (MergeUpdate(_, set), i) =>
        rows.filter(col("__op") === s"U$i")
          .select(schema.fields.toSeq.map(f =>
            set.get(f.name).map(_.cast(f.dataType).as(f.name))
              .getOrElse(col(f.name))) ++ spec.names.map(col): _*)
    }
    val images = imagesOf(matched, claimed) ++
      claimedB.toSeq.flatMap(b => imagesOf(bySource, b))
    val inserts =
      if (!insertUnmatched) None
      else Some(srcPref.join(
        scanEntries(s, partCol, schema, affected)
          .select(keyCols.zipWithIndex.map { case (c, i) =>
            col(c).as(s"__t_key$i") }: _*),
        keyCols.zipWithIndex.map { case (c, i) =>
          col(s"__src_$c") === col(s"__t_key$i") }.reduce(_ && _),
        "left_anti")
        .select(schema.fields.toSeq.map(f =>
          col(s"__src_${f.name}").cast(f.dataType).as(f.name))
          ++ spec.names.map(n => col(s"__src_$n").as(n)): _*)
        // materialized ONCE: the no-op guard below and the commit's
        // write both consume it — re-running the anti join would double
        // the dominant target-scan stage
        .localCheckpoint())
    // nothing claimed, nothing to insert: a provable no-op, no commit
    // (same contract as delete/update over a clean table)
    if (dvEntries.isEmpty && inserts.forall(_.isEmpty)) return cur
    val pieces = images ++ inserts.toSeq
    val written =
      if (pieces.isEmpty)
        scanEntries(s, partCol, schema, Nil).filter(lit(false))
      else pieces.reduce(_ unionByName _)
    commitImpl(s, dir, written, partCol, carryUntouched = false,
      Set.empty, expectedPrev = Some(cur),
      // bounds for every column the TABLE tracks (m.entries, not just
      // the affected slice): an insert-only merge must still record the
      // new files' bounds or later DML selection would degrade
      statsColumns = keepableStats(schema, m.entries),
      carriedOverride = Some(
        m.entries.filterNot(e => touchedPathSet(normPath(e.path)))
          ++ dvEntries),
      dataChangeValues = dvEntries.map(_.value).toSet,
      prevManifestHint = Some(m), op = "merge")
  }

  /** the stats columns a rewrite must re-record so it never ERASES
    * recorded bounds (see [[optimize]]'s same rule) */
  private def keepableStats(schema: StructType,
      replaced: Seq[Entry]): Seq[String] = {
    // recorded cells are keyed PHYSICAL; statsColumns speak LOGICAL —
    // translate (identity for never-renamed tables); a dropped column's
    // cells translate to nothing and its bounds die with the rewrite
    val toLogical = schema.fields
      .map(f => ColumnMapping.physicalName(f) -> f.name).toMap
    replaced.flatMap(_.stats.keys).distinct
      .flatMap(toLogical.get)
      .filter(c => StatCodec.supported(schema(c).dataType))
  }

  /** the DML twins' OCC loop — [[merge]]'s retry semantics */
  private def dmlRetry[A](s: SparkSession, dir: String, attempts: Int)(
      body: () => A): A = {
    require(attempts >= 1, "need at least one attempt")
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      try return body()
      catch { case e: Throwable if isCommitRace(e, dir) => last = e; i += 1 }
    }
    throw new IllegalStateException(
      s"Snapshots: DML lost $attempts consecutive optimistic races at " +
        s"$dir — a hotter writer is live; back off or coordinate", last)
  }

  /** The honored TABLE-PROPERTY keys ([[setTableProperty]]); unknown
    * keys are carried verbatim (a deployment can stamp its own
    * metadata, like Delta's userMetadata). */
  val PropDvEnabled = "graft.dv.enabled"
  val PropDvMaxFraction = "graft.dv.maxFraction"
  /** comma-separated LOGICAL column names [[append]]/[[commit]] record
    * per-file blooms for when the caller passes none explicitly */
  val PropBloomColumns = "graft.bloom.columns"

  /** the table's current properties — metadata only, one manifest read */
  def tableProperties(s: SparkSession, dir: String): Map[String, String] = {
    val cur = currentVersion(s, dir)
    require(cur >= 1, s"Snapshots: no committed table at $dir")
    readManifest(s, dir, cur).props
  }

  /** SET a table property — a METADATA-ONLY version (entries carry
    * verbatim, op = set_property); the property rides every later
    * commit's meta header until [[removeTableProperty]]. Honored keys:
    * [[PropDvEnabled]]/[[PropDvMaxFraction]] (per-table deletion-vector
    * gate overriding the session conf) and [[PropBloomColumns]]
    * (default bloom columns for appends); anything else carries
    * verbatim as deployment metadata. */
  def setTableProperty(s: SparkSession, dir: String, key: String,
      value: String): Long = {
    require(key.nonEmpty && !key.exists(c => c == '\t' || c == '\n') &&
      !value.exists(c => c == '\t' || c == '\n'),
      "Snapshots: property key/value cannot be empty or carry tab/newline")
    val cur = currentVersion(s, dir)
    require(cur >= 1, s"Snapshots: no committed table at $dir")
    val m = readManifest(s, dir, cur)
    commitHeaderState(s, dir, cur, m, m.schema, m.constraints, m.retired,
      "set_property", propsOverride = Some(m.props + (key -> value)))
  }

  /** UNSET a table property (no-op version if absent — the version
    * still lands so the audit history records the intent) */
  def removeTableProperty(s: SparkSession, dir: String,
      key: String): Long = {
    val cur = currentVersion(s, dir)
    require(cur >= 1, s"Snapshots: no committed table at $dir")
    val m = readManifest(s, dir, cur)
    commitHeaderState(s, dir, cur, m, m.schema, m.constraints, m.retired,
      "unset_property", propsOverride = Some(m.props - key))
  }

  /** DESCRIBE HISTORY — one row per SURVIVING version, ascending:
    * (version, ts_millis, op, n_partitions, n_files, bytes, n_masked).
    * Everything comes from the manifests alone (one read per live
    * version — the Delta DESCRIBE HISTORY shape; [[vacuum]] bounds the
    * cost), so the audit view of a 100 TB table costs kilobytes:
    * who-did-what is `op` (commit/replace/merge/optimize/restore), when
    * is the recorded commit wall-clock, and the size columns are the
    * recorded exact file stats. `n_masked` = deletion-vector rows live
    * at that version — the maintenance signal: mask debt grows under
    * row-grain DML and drops to 0 when OPTIMIZE retires the masks. */
  def history(s: SparkSession, dir: String): DataFrame = {
    val fs = fsOf(s, dir)
    val rows = liveVersions(s, dir).map { v =>
      // header-only fast path via the `#stats` rollup every commit since
      // r16 records — O(versions) SMALL reads with no entry parsing, the
      // _last_checkpoint-style bound; a pre-rollup manifest (or a header
      // torn mid-read) falls back to the full parse, never to a wrong row
      val fast =
        try {
          val (ts, op, st, _) = readHeaderMeta(fs, manifestPath(dir, v))
          st.map { case (np, nf, nb, nm) =>
            (v, ts, op, np.toInt, nf.toInt, nb, nm) }
        } catch { case _: java.io.FileNotFoundException => None }
      fast.getOrElse {
        val m = readManifest(s, dir, v)
        (v, m.ts, m.op, m.entries.map(_.value).distinct.size,
          m.entries.size, m.entries.map(_.bytes).sum, dvMaskedRows(m.entries))
      }
    }
    import s.implicits._
    rows.toDF("version", "ts_millis", "op", "n_partitions", "n_files",
      "bytes", "n_masked")
  }

  /** The SQL-TEXT surface over the DML/DDL kernels — DELETE / UPDATE /
    * MERGE (parsed by Spark's own parser, dispatched onto the
    * bounds-selected rewrite kernels) plus RESTORE / ALTER TABLE
    * ADD|DROP CONSTRAINT / DESCRIBE HISTORY / VACUUM / OPTIMIZE. Tables
    * are named `graft_snapshot.`<table dir>`` and are self-describing
    * (the manifest records the partition column); see [[SnapshotSql]]
    * for the accepted statements and the MERGE shape rules. */
  def sql(s: SparkSession, text: String,
      partCol: Option[String] = None): DataFrame =
    SnapshotSql(s, text, partCol)

  /** Retention vacuum — the production knob that bounds history: drop
    * every version older than the newest `keepLast`, deleting (a) the
    * dropped versions' manifests and (b) every data FILE NOT referenced
    * by any KEPT manifest. Carry-by-reference makes (b) the load-bearing
    * clause, at file grain since r15: a file written at v1 and still
    * listed in the current manifest survives the vacuum of v1, and a
    * file-grain [[merge]] that rewrote SOME of a dir's files lets the
    * vacuum retire exactly the replaced ones. Deletion order (manifests
    * first, then data) keeps the invariant that an EXISTING manifest's
    * files always exist: a reader can lose the race only by holding a
    * version older than the retention window, and then fails loudly at
    * the manifest check, never with half-read data. Data dirs numbered
    * ABOVE the latest committed version are never touched — that is an
    * in-flight writer whose commit may still succeed; files at or below
    * it that no kept manifest references are either retired history or
    * orphans of losers whose rename can no longer succeed, both safe.
    * Metadata cost: ONE `_manifests` listing (so already-retired history
    * is skipped for free — a repeat vacuum with a wider window is a
    * no-op) plus one manifest read per KEPT version. Returns the dropped
    * versions. */
  def vacuum(s: SparkSession, dir: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "vacuum keeps at least one version")
    val fs = fsOf(s, dir)
    val existing = listVersions(fs, dir)
    if (existing.isEmpty) return Seq.empty
    val cur = existing.last
    val oldest = math.max(1L, cur - keepLast + 1)
    val keptManifests = existing.filter(_ >= oldest)
      .map(v => readManifest(s, dir, v))
    val kept = keptManifests.flatMap(_.entries).map(_.path).toSet
    // segment files referenced by any kept manifest survive — the same
    // carry-by-reference keep clause, one metadata level up
    val keptSegs = keptManifests.flatMap(_.segParts.map(_._1.name)).toSet
    val dropped = existing.filter(_ < oldest)
    // raise the retention floor BEFORE any manifest disappears: once a
    // manifest is deleted its version number must never be committable
    // again (a stalled writer's rename into the freed slot would
    // resurrect a version whose data this vacuum deletes below) —
    // writeManifestAtomic refuses versions <= floor
    if (dropped.nonEmpty) {
      // monotone: a later vacuum with a WIDER window must not regress it
      val floor = math.max(oldest - 1, retentionFloorAt(fs, floorPath(dir)))
      writeFloorAtomic(s, fs, floorPath(dir), floor)
    }
    dropped.foreach(v => fs.delete(manifestPath(dir, v), false))
    // SEGMENT GC — after the manifests, before the data files, under the
    // same rule as data dirs: a segment whose name targets a version
    // ABOVE the latest committed one belongs to an in-flight writer
    // whose commit may still succeed (never touched); at or below it, a
    // segment no kept manifest references is retired history or a
    // rename-loser's orphan, both safe to drop
    val segsDir = new Path(dir, "_manifests/segs")
    if (fs.exists(segsDir)) {
      fs.listStatus(segsDir).foreach { st =>
        val n = st.getPath.getName
        val vNum =
          if (n.startsWith("seg_v")) {
            val digits = n.stripPrefix("seg_v").takeWhile(_.isDigit)
            if (digits.nonEmpty) digits.toLong else Long.MaxValue
          } else Long.MaxValue
        if (st.isFile && vNum <= cur && !keptSegs(n)) {
          fs.delete(st.getPath, false)
          segCache.synchronized {
            segCache.remove(fs.makeQualified(st.getPath).toString)
          }
        }
      }
    }
    // DELETION-VECTOR sidecar GC — same keep rule as segments: a
    // sidecar referenced by any kept manifest's entries survives; one
    // named for a version ABOVE the latest committed belongs to an
    // in-flight writer (never touched); the rest are retired history
    // or a rename-loser's orphans
    val dvRoot = new Path(dir, "_manifests/dv")
    if (fs.exists(dvRoot)) {
      val keptDvs = keptManifests.flatMap(_.entries.flatMap(
        _.dv.map { case (name, _) => new Path(name).getName })).toSet
      fs.listStatus(dvRoot).foreach { st =>
        val n = st.getPath.getName
        val vNum =
          if (n.startsWith("dv_v")) {
            val digits = n.stripPrefix("dv_v").takeWhile(_.isDigit)
            if (digits.nonEmpty) digits.toLong else Long.MaxValue
          } else Long.MaxValue
        if (vNum <= cur && !keptDvs(n)) fs.delete(st.getPath, true)
      }
    }
    val dataRoot = new Path(dir, "data")
    if (fs.exists(dataRoot)) {
      fs.listStatus(dataRoot).foreach { vd =>
        // NEVER touch a version dir numbered above the latest COMMITTED
        // version: that is an IN-FLIGHT writer's data (parquet written,
        // manifest rename pending) whose commit may legitimately succeed
        // after this vacuum — deleting it would commit a version with
        // missing files. Dirs at <= cur are safe: either referenced by a
        // kept manifest (protected below), retired history, or a loser's
        // orphan whose rename can no longer succeed (its version's
        // manifest already exists).
        val vNum = vd.getPath.getName match {
          case n if n.startsWith("v") =>
            val digits = n.stripPrefix("v").takeWhile(_.isDigit)
            if (digits.nonEmpty) digits.toLong else Long.MaxValue
          case _ => Long.MaxValue
        }
        if (vd.isDirectory && vNum <= cur) {
          // FILE-grain retirement at ANY depth — multi-column partition
          // layouts nest one directory level per partition column
          // (day=X/region=Y/...) and the streaming staging dir nests an
          // epoch level, so the walk must recurse to the FILES rather
          // than assume the classic one-level <part>=<val> shape (a
          // fixed-depth walk saw only DIRECTORIES at the partition
          // level, counted zero kept children, and recursively deleted
          // manifest-referenced live data — review-caught). A subtree
          // is removed only when NO referenced file survives anywhere
          // under it; write debris (_SUCCESS, dot-files) never counts
          // as live and is dropped with its subtree, exactly the old
          // version-dir retirement rule. Returns: subtree still live. */
          def retire(p: Path): Boolean = {
            var live = false
            fs.listStatus(p).foreach { st =>
              if (st.isDirectory) {
                if (retire(st.getPath)) live = true
                else fs.delete(st.getPath, true) // unreferenced subtree
              } else {
                val n = st.getPath.getName
                if (kept(st.getPath.toString)) live = true
                else if (!n.startsWith("_") && !n.startsWith("."))
                  fs.delete(st.getPath, false)
              }
            }
            live
          }
          if (!retire(vd.getPath)) fs.delete(vd.getPath, true)
        }
      }
    }
    dropped
  }

  /** OPTIMIZE-as-version: compact the CURRENT version's small files into
    * a new atomic commit. Partitions holding more than `maxFilesPerPart`
    * data files are read back (one scan over just those files) and
    * rewritten bin-packed toward `targetFileBytes` per output file —
    * ceil(partitionBytes / targetFileBytes) bins per partition, rows
    * spread across bins by a deterministic row hash, one shuffle total.
    * Every other FILE is carried BY REFERENCE, every prior version keeps
    * reading its own files, and the rewritten files CARRY their
    * predecessors' `dataVersion` (compaction must never change an
    * answer — the read-back of version N+1 equals version N row for row,
    * which q_layout_optimize pins under the oracle hash and SnapshotsSpec
    * pins as file-count-drops/content-hash-doesn't — so [[diff]] treats
    * the rewrite as `dataChange=false` and incremental consumers skip
    * it). `clusterBy` column NAMES switch the rewrite to
    * OPTIMIZE-CLUSTER-BY: range-partitioned + sorted output so every
    * rewritten file carries a narrow min/max range on the cluster key,
    * and `statsColumns` (default: the clusterBy columns) records those
    * per-file bounds in the manifest — the zonemap food that makes a
    * later range query SKIP files and a later [[merge]] rewrite few.
    * For 2-D clustering, either list both columns (lexicographic —
    * leading-column pruning) or materialize a
    * [[graft.api.Graft.zorderKey]] as a stored column at write time and
    * name it here (true Morton locality needs the key ON the table, as
    * real formats' Z-ORDER implementations compute-and-keep it). No-op
    * (returns the current version, no commit) when nothing qualifies.
    * Candidate selection is METADATA-ONLY: per-file byte sizes were
    * recorded in the manifest when each immutable file was written, so
    * deciding what to compact costs one small manifest read — no
    * per-partition listings, no matter how many partitions the table
    * holds. */
  def optimize(s: SparkSession, dir: String, partCol: String,
      maxFilesPerPart: Int = 1, targetFileBytes: Long = 128L << 20,
      clusterBy: Seq[String] = Nil, statsColumns: Seq[String] = null): Long = {
    require(maxFilesPerPart >= 1, "maxFilesPerPart >= 1")
    val cur = currentVersion(s, dir)
    require(cur >= 1, s"Snapshots: nothing to optimize at $dir")
    val m = readManifest(s, dir, cur)
    val byPart = m.entries.groupBy(_.value).map { case (v, es) =>
      v -> (es.size, es.map(_.bytes).sum)
    }
    // CONVERGENCE: a partition already at (or within one file of) its
    // bin-pack fixpoint — ceil(bytes/target) files — is exempt even when
    // that exceeds maxFilesPerPart, or a large partition would be
    // re-selected and fully rewritten into the same layout on every
    // nightly run forever (history churn, vacuum load, zero benefit).
    // The +1 slack absorbs the clusterBy path's worst case: a
    // partition's rows are one CONTIGUOUS block of the global range
    // order (partCol leads the sort key), so range boundaries can
    // straddle it into at most ideal+1 files — without the slack that
    // straddle would re-qualify it forever.
    val candValues = byPart.filter { case (_, (files, bytes)) =>
      val ideal = (bytes + targetFileBytes - 1) / targetFileBytes
      files > math.max(maxFilesPerPart.toLong,
        if (ideal > 1 || clusterBy.nonEmpty) ideal + 1 else ideal)
    }.keySet ++
      // DV-bearing partitions are ALWAYS candidates: OPTIMIZE is where
      // deletion vectors retire — the rewrite reads through the mask
      // (scanEntries applies it) and the fresh entries carry no dv ref,
      // so the masked bytes and the sidecar become vacuum-collectable.
      // Convergent: a rewritten partition is DV-free and exempt again.
      m.entries.filter(_.dv.isDefined).map(_.value).toSet
    if (candValues.isEmpty) return cur
    val (cands, carried) = m.entries.partition(e => candValues(e.value))
    val dataSchema = schemaOf(s, m)
    val binsOf = candValues.toSeq.map { v =>
      val bytes = byPart(v)._2
      v -> math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
    }.toMap
    // rewritten files carry the MAX dataVersion of the rows they absorb:
    // compaction changes layout, never content, so the change feed must
    // date these rows to the commit that actually wrote them
    val dvOf = cands.groupBy(_.value).map { case (v, es) =>
      v -> es.map(_.dataVersion).max
    }
    val src = scanEntries(s, partCol, dataSchema, cands)
    val packed =
      if (clusterBy.nonEmpty) {
        // OPTIMIZE ... ZORDER/CLUSTER BY: range-partition the rewrite on
        // (partition, cluster key) and sort within tasks, so every output
        // file carries a NARROW, near-disjoint min/max range on the
        // cluster columns — compaction and zonemap-friendly clustering in
        // one pass (compose with Graft.zorderKey for 2-D keys). Costs the
        // range sampler's extra pass over just the rewritten entries.
        val n = math.min(binsOf.values.sum, Int.MaxValue.toLong).toInt
        val keys = (PartSpec.parse(partCol).names ++ clusterBy).map(col)
        src.repartitionByRange(n, keys: _*).sortWithinPartitions(keys: _*)
      } else {
        // plain bin-packing: deterministic row-hash spread across each
        // partition's ceil(bytes/target) bins, ONE hash shuffle, no
        // sampling pass. Per-partition bin counts ride a BROADCAST join,
        // not a map() literal — a 10^4-candidate OPTIMIZE must not build
        // a 2*10^4-arg expression tree (the same plan-size rule the
        // manifest-served read exists for).
        val bins = {
          import s.implicits._
          binsOf.toSeq.toDF("__graft_bin_part", "__graft_bins")
        }
        val spec = PartSpec.parse(partCol)
        src.join(broadcast(bins),
            spec.valueExpr === col("__graft_bin_part"))
          .withColumn("__graft_bin",
            pmod(xxhash64(dataSchema.fieldNames.map(col).toSeq: _*),
              col("__graft_bins")))
          .repartition(spec.names.map(col) :+ col("__graft_bin"): _*)
          .drop("__graft_bin", "__graft_bins", "__graft_bin_part")
      }
    // PINNED to the version the candidates were planned from: a racer
    // landing between the plan and the rename must fail this commit
    // loudly (rerun optimize against the new state), never have its
    // update silently replaced by a compaction of older data — the same
    // lost-update rule commitRetry documents.
    // Default statsColumns = clusterBy PLUS every column the replaced
    // files already had bounds for: a plain maintenance compaction must
    // never ERASE recorded bounds (which would silently degrade file
    // skipping and the file-grain merge forever — bounds carry verbatim,
    // so the loss would be permanent).
    val keepStats = (clusterBy.filter(c =>
      dataSchema.fieldNames.contains(c) &&
        StatCodec.supported(dataSchema(c).dataType)) ++
      keepableStats(dataSchema, cands)).distinct
    // the same never-erase rule for BLOOMS: any column whose replaced
    // files carried a `#bf` cell gets its filters RE-RECORDED over the
    // compacted files (one extra aggregation per such column) — without
    // this a maintenance compaction would silently strip the
    // equality-skipping layer from every file it touches, permanently
    val keepBlooms = {
      val toLogical = dataSchema.fields
        .map(f => ColumnMapping.physicalName(f) -> f.name).toMap
      cands.flatMap(_.stats.keys).filter(_.endsWith(BloomKeySuffix))
        .map(_.stripSuffix(BloomKeySuffix)).distinct
        .flatMap(toLogical.get)
    }
    commitImpl(s, dir, packed, partCol, carryUntouched = false, Set.empty,
      expectedPrev = Some(cur),
      statsColumns = Option(statsColumns).getOrElse(keepStats),
      dataVersionOf = dvOf, carriedOverride = Some(carried),
      prevManifestHint = Some(m), op = "optimize",
      bloomColumns = keepBlooms)
  }

  /** data files of one partition dir (excludes _SUCCESS/.hidden) */
  private def dataFiles(fs: FileSystem,
      p: Path): Array[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(p).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  /** per-file [min, max] of `statsColumns` for the JUST-WRITTEN files
    * under `dataDir` — one distributed aggregation over only the new
    * files (projected to the stats columns), grouped by file. The only
    * moment stats can be collected exactly once: files are immutable
    * after this, so the recorded bounds never go stale. */
  /** Per-file [min, max] bounds for `statsColumns` read from the
    * just-written files' OWN PARQUET FOOTERS — the Iceberg/Delta stats
    * shape: the write job itself is the ONLY pass over the data (r15
    * ran a second column-pruned aggregation scan here; r16 replaces it
    * with O(written files) driver-side footer reads, which the commit
    * already owns the listing for). Per column per file: every row
    * group's recorded statistics combine under the SAME ordering the
    * planner's interpreted comparisons use (unsigned byte order for
    * strings — parquet's binary stats order and UTF8String's agree);
    * anything unusable (missing stats, INT96 timestamps, NaN float
    * bounds, truncated-without-bound-semantics, nested, unexpected
    * physical type) degrades to "no bounds for that column in that
    * file" — skipping and rewrite selection stay conservative, never
    * wrong. `statsColumns` arrive LOGICAL; footers and manifest cells
    * speak PHYSICAL. */
  /** the INT96 split shared by the task-side registration and the
    * driver-side residue collector: which of `statsColumns` can the
    * parquet FOOTERS serve under this session's writer config, as the
    * (physical name -> type) map the footer reader wants. Columns the
    * footers cannot serve fall back to the aggregation job: Spark's
    * default parquet timestamp encoding is INT96, which records no
    * usable column statistics — silently recording NO bounds for a
    * timestamp-keyed table would turn every later merge/DML into a
    * rewrite-everything cliff (NTZ always writes INT64 micros and stays
    * on the footer path). */
  private def statsFooterSplit(s: SparkSession, dataSchema: StructType,
      statsColumns: Seq[String])
      : (Seq[String], Seq[String], Map[String, DataType]) = {
    val bad = statsColumns.filterNot(c =>
      dataSchema.fieldNames.contains(c) &&
        StatCodec.supported(dataSchema(c).dataType))
    require(bad.isEmpty,
      s"Snapshots: statsColumns ${bad.mkString(", ")} must be data columns " +
        "of an orderable atomic type (numeric/string/date/timestamp/decimal)")
    val physMap = ColumnMapping.toPhysical(dataSchema)
    val int96 = s.conf
      .getOption("spark.sql.parquet.outputTimestampType")
      .getOrElse("INT96") == "INT96"
    val (scanCols, footerCols) = statsColumns.partition(c =>
      int96 && dataSchema(c).dataType == TimestampType)
    (scanCols, footerCols,
      footerCols.map(c => physMap(c) -> dataSchema(c).dataType).toMap)
  }

  /** DRIVER footer reads performed by the residue pool below —
    * test-visible so the executor-side-stats spec can pin "a normal
    * commit records bounds with ZERO driver footer IO" */
  private[graft] val driverFooterReads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** test seam: true skips the task-side registration so a commit
    * collects every bound through the driver residue pool — the spec
    * compares both paths' recorded stats on identical data */
  private[graft] val taskStatsDisabled =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  private def collectStats(s: SparkSession, files: Seq[Path],
      dataDir: String, dataSchema: StructType, statsColumns: Seq[String],
      taskStats: Map[String, Map[String, (String, String)]])
      : Map[String, Map[String, (String, String)]] = {
    val (scanCols, footerCols, wanted) =
      statsFooterSplit(s, dataSchema, statsColumns)
    val conf = s.sparkContext.hadoopConfiguration
    val fromFooters: Map[String, Map[String, (String, String)]] =
      if (footerCols.isEmpty) Map.empty
      else {
        // the WRITER TASKS already shipped per-file bounds inside their
        // task commit messages ([[StatsCommitProtocol]]); the driver
        // pool below serves only the residue — files some
        // non-StatsCommitProtocol write path produced, normally NONE —
        // so the commit's driver-side stats cost is O(tasks) message
        // folds, not O(files) footer opens
        val missing = files.filterNot(f => taskStats.contains(f.toString))
        val fromDriver: Map[String, Map[String, (String, String)]] =
          if (missing.isEmpty) Map.empty
          else {
            // footer reads are independent small IO — even the residue
            // path must not serialize thousands of remote opens
            import scala.concurrent.{Await, ExecutionContext, Future}
            import scala.concurrent.duration.Duration
            val pool = java.util.concurrent.Executors.newFixedThreadPool(
              math.min(8, math.max(1, missing.size)))
            try {
              implicit val ec: ExecutionContext =
                ExecutionContext.fromExecutorService(pool)
              Await.result(Future.traverse(missing) { f =>
                Future {
                  driverFooterReads.incrementAndGet()
                  val st =
                    try footerBounds(conf, f, wanted)
                    catch { case _: Exception =>
                      Map.empty[String, (String, String)] }
                  f.toString -> st
                }
              }, Duration.Inf).toMap
            } finally pool.shutdown()
          }
        files.flatMap(f => taskStats.get(f.toString)
          .map(f.toString -> _)).toMap ++ fromDriver
      }
    if (scanCols.isEmpty) fromFooters
    else {
      val fromScan = collectStatsScan(s, dataDir, dataSchema, scanCols)
      (fromFooters.keySet ++ fromScan.keySet).map { f =>
        f -> (fromFooters.getOrElse(f, Map.empty) ++
          fromScan.getOrElse(f, Map.empty))
      }.toMap
    }
  }

  /** the r15 aggregation-job collector — retained for columns the
    * footers cannot serve (see [[collectStats]]): one column-pruned
    * distributed pass over just the written files, grouped by file */
  private def collectStatsScan(s: SparkSession, dataDir: String,
      dataSchema: StructType, statsColumns: Seq[String])
      : Map[String, Map[String, (String, String)]] = {
    val physMap = ColumnMapping.toPhysical(dataSchema)
    val physCols = statsColumns.map(physMap)
    val aggs = physCols.flatMap(c =>
      Seq(min(col(c)).as(s"__lo_$c"), max(col(c)).as(s"__hi_$c")))
    val rows = s.read.parquet(dataDir)
      .select((input_file_name().as("__file") +: physCols.map(col)): _*)
      .groupBy(col("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    rows.map { r =>
      // input_file_name() yields the URL-ENCODED uri form ('a b' as
      // 'a%20b'); manifest entries record listStatus's DECODED paths —
      // decode through URI so hostile partition values keep their stats
      val file =
        try new Path(new java.net.URI(r.getString(0))).toString
        catch { case _: java.net.URISyntaxException =>
          new Path(r.getString(0)).toString
        }
      val st = statsColumns.zipWithIndex.flatMap { case (c, i) =>
        val dt = dataSchema(c).dataType
        for {
          lo <- StatCodec.external(dt, r.get(1 + 2 * i))
          hi <- StatCodec.external(dt, r.get(2 + 2 * i))
        } yield physMap(c) -> (lo, hi)
      }.toMap
      file -> st
    }.toMap
  }

  /** one file's footer -> canonical [lo, hi] strings per wanted
    * physical column (see [[collectStats]]); private so the ugly
    * parquet-type dance stays in one place */
  private[sources] def footerBounds(
      conf: org.apache.hadoop.conf.Configuration,
      file: Path, wanted: Map[String, DataType])
      : Map[String, (String, String)] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import scala.jdk.CollectionConverters._
    def unsignedLt(a: Array[Byte], b: Array[Byte]): Boolean = {
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i) & 0xff; val y = b(i) & 0xff
        if (x != y) return x < y
        i += 1
      }
      a.length < b.length
    }
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val footer = reader.getFooter
      // per column: fold every row group's stats; ANY group with
      // unusable stats poisons that column for this file (a partial
      // bound is not a bound)
      val acc = scala.collection.mutable.Map[String, (Any, Any)]()
      val poisoned = scala.collection.mutable.Set[String]()
      footer.getBlocks.asScala.foreach { block =>
        block.getColumns.asScala.foreach { cc =>
          if (cc.getPath.size == 1 && wanted.contains(cc.getPath.toDotString)
              && !poisoned(cc.getPath.toDotString)) {
            val name = cc.getPath.toDotString
            val st = cc.getStatistics
            if (st == null || st.isEmpty)
              // stats MISSING while values may exist: no safe bound
              { acc.remove(name); poisoned += name }
            else if (!st.hasNonNullValue) {
              // an ALL-NULL row group constrains nothing (NULLs never
              // satisfy a range predicate) — skip it and keep folding
              // the other groups' bounds, exactly like the r15
              // aggregation's min/max ignored NULLs
            }
            else {
              val (lo, hi) = (st.genericGetMin, st.genericGetMax)
              // floats/doubles: NaN bounds are meaningless — poison
              val nan = Seq(lo, hi).exists {
                case d: java.lang.Double => d.isNaN
                case f: java.lang.Float => f.isNaN
                case _ => false
              }
              if (nan) { acc.remove(name); poisoned += name }
              else acc.get(name) match {
                case None => acc(name) = (lo, hi)
                case Some((alo, ahi)) =>
                  // the combine order must match the LOGICAL type's
                  // ordering: strings compare as UNSIGNED bytes (parquet
                  // binary stats and UTF8String agree), but a
                  // Binary-encoded DECIMAL is SIGNED two's-complement —
                  // unsigned order would fold mixed-sign group bounds
                  // into a wrong (narrower) range, excluding real values
                  def lt(x: Any, y: Any): Boolean = (x, y) match {
                    case (a: Binary, b: Binary) =>
                      if (wanted(name).isInstanceOf[DecimalType])
                        new java.math.BigInteger(a.getBytes)
                          .compareTo(new java.math.BigInteger(b.getBytes)) < 0
                      else unsignedLt(a.getBytes, b.getBytes)
                    case (a: Number, b: Number) =>
                      (a, b) match {
                        case (x1: java.lang.Double, y1: java.lang.Double) => x1 < y1
                        case (x1: java.lang.Float, y1: java.lang.Float) => x1 < y1
                        case _ => a.longValue() < b.longValue()
                      }
                    case (a: java.lang.Boolean, b: java.lang.Boolean) => !a && b
                    case _ => false
                  }
                  acc(name) = (if (lt(lo, alo)) lo else alo,
                    if (lt(ahi, hi)) hi else ahi)
              }
            }
          }
        }
      }
      // physical-type metadata for conversion
      val fields = footer.getFileMetaData.getSchema.getFields.asScala
        .map(t => t.getName -> t).toMap
      acc.toMap.flatMap { case (name, (lo, hi)) =>
        val dt = wanted(name)
        val pt = fields.get(name).filter(_.isPrimitive).map(_.asPrimitiveType())
        def canon(v: Any, isMin: Boolean): Option[String] = (dt, v) match {
          case (StringType, b: Binary) => Some(b.toStringUsingUTF8)
          case (ByteType | ShortType | IntegerType | LongType | FloatType |
                DoubleType | BooleanType, x) => Some(x.toString)
          case (DateType, i: java.lang.Integer) => Some(i.toString) // days
          case (TimestampType | TimestampNTZType, l: java.lang.Long) =>
            pt.map(_.getLogicalTypeAnnotation) match {
              case Some(ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation) =>
                ts.getUnit match {
                  case LogicalTypeAnnotation.TimeUnit.MICROS => Some(l.toString)
                  case LogicalTypeAnnotation.TimeUnit.MILLIS =>
                    Some((l * 1000L).toString)
                  case LogicalTypeAnnotation.TimeUnit.NANOS =>
                    // truncating division rounds pre-1970 values TOWARD
                    // ZERO, which would lift a recorded min above the
                    // true minimum (file skipping wrongly excluding a
                    // match); floor the min, ceil the max so truncated
                    // bounds stay conservative in both directions
                    Some((if (isMin) Math.floorDiv(l, 1000L)
                          else -Math.floorDiv(-l, 1000L)).toString)
                  case _ => None
                }
              case _ => None // INT96 etc: no trustworthy stats
            }
          case (d: DecimalType, x) =>
            val unscaled: Option[java.math.BigInteger] = x match {
              case i: java.lang.Integer =>
                Some(java.math.BigInteger.valueOf(i.longValue()))
              case l: java.lang.Long =>
                Some(java.math.BigInteger.valueOf(l))
              case b: Binary => Some(new java.math.BigInteger(b.getBytes))
              case _ => None
            }
            unscaled.map(u =>
              new java.math.BigDecimal(u, d.scale).toPlainString)
          case _ => None
        }
        for (l <- canon(lo, isMin = true); h <- canon(hi, isMin = false))
          yield name -> (l, h)
      }
    } finally reader.close()
  }

  private def commitImpl(s: SparkSession, dir: String, df: DataFrame,
      partCol: String, carryUntouched: Boolean,
      replacedValues: Set[String], expectedPrev: Option[Long],
      statsColumns: Seq[String] = Nil,
      dataVersionOf: Map[String, Long] = Map.empty,
      carriedOverride: Option[Seq[Entry]] = None,
      dataChangeValues: Set[String] = Set.empty,
      prevManifestHint: Option[Manifest] = None,
      op: String = "commit",
      txn: Option[(String, Long)] = None,
      allowEmpty: Boolean = false,
      bloomColumns: Seq[String] = Nil): Long = {
    val spec = PartSpec.parse(partCol)
    spec.cols.foreach { f =>
      require(df.columns.contains(f.name),
        s"Snapshots: partition column '${f.name}' is not a column of " +
          "the frame")
      require(df.schema(f.name).dataType == f.dataType,
        s"Snapshots: partition column '${f.name}' is declared " +
          s"${f.dataType.simpleString} but the frame holds " +
          s"${df.schema(f.name).dataType.simpleString} — cast it (values " +
          "travel through directory names; a type mismatch would " +
          "silently re-type them on read-back)")
    }
    // '__'-prefixed names are RESERVED for the format's internal working
    // columns (update's __hit predicate projection, diffRows' __a/__b
    // presence markers, optimize's __graft_bin* packing columns,
    // collectStats' __file/__lo_/__hi_ aggregation names): a user column
    // of that shape would be silently REPLACED by withColumn in those
    // paths and read back holding internal values — refuse loudly at the
    // one choke point every committing path crosses (the same rule as
    // '#'-leading and tab-bearing partition values)
    locally {
      val reserved = df.schema.fieldNames.filter(_.startsWith("__"))
      require(reserved.isEmpty,
        s"Snapshots: column name(s) ${reserved.mkString(", ")} are " +
          "reserved — '__'-prefixed names collide with the format's " +
          "internal working columns (rename them before committing)")
    }
    val fs = fsOf(s, dir)
    // commitRetry PINS the version it read through `make` — re-deriving
    // latest here would let a racer's commit slide underneath unseen
    val prev = expectedPrev.getOrElse(currentVersion(s, dir))
    val v = prev + 1
    // the previous manifest is read AT MOST ONCE per commit (it backs
    // the column-mapping assignment, the carried-entry listing, the
    // schema check, AND the active constraint set; callers that already
    // hold it — merge, optimize, delete, update — pass it as a hint so
    // their commit re-reads nothing): manifest reads are round-trips on
    // the hot write path of an object-store deployment
    val prevManifest: Option[Manifest] =
      if (prev >= 1) Some(prevManifestHint.getOrElse(readManifest(s, dir, prev)))
      else None
    // COLUMN MAPPING: fields inherit their id/physical name from the
    // previous header by LOGICAL name; new fields get fresh ids and a
    // physical name that can never collide with a retired or in-use one
    // (see [[ColumnMapping]]) — for never-renamed tables this is the
    // identity and the write below is byte-identical to r15
    val dataSchema = ColumnMapping.assign(
      StructType(df.schema.filterNot(f => spec.names.contains(f.name))),
      prevManifest.flatMap(_.schema),
      prevManifest.map(_.retired).getOrElse(Nil))
    val retired = prevManifest.map(_.retired).getOrElse(Nil)
    // the data dir is PER-WRITER UNIQUE (version prefix + nonce), never
    // shared by name across racers: two writers targeting version N write
    // disjoint dirs and race ONLY at the manifest rename — a shared
    // data/vN would let mode("error")'s check-then-write window interleave
    // both writers' files into one dir and hand the rename winner a
    // corrupt version (why real formats name data files per task attempt).
    // The loser's orphan dir is unreferenced by every manifest and retired
    // by the next vacuum. The nonce is a UUID — collision-proof, so the
    // mode("error") guard below is immutability belt only, never a race
    // surface; immutability (invariant 1) is per-dir as before.
    val dataDir = f"$dir/data/v$v%08d_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    // rename-bearing tables write their files under PHYSICAL names (one
    // projection — identity for never-renamed tables)
    val dfOut =
      if (!ColumnMapping.nontrivial(dataSchema)) df
      else df.select(dataSchema.fields.toSeq.map(f =>
        col(f.name).as(ColumnMapping.physicalName(f))) ++
        spec.names.map(col): _*)
    // EXECUTOR-SIDE STATS: register the footer-servable columns under
    // this write's output path so [[StatsCommitProtocol]] collects
    // per-file bounds IN THE WRITER TASKS and ships them with the task
    // commit messages — the driver folds O(tasks) payloads instead of
    // opening O(files) footers itself (the write path's last O(files)
    // driver term; Delta/Iceberg collect stats in-task the same way).
    // The protocol class stays set session-wide: it is behaviorally
    // identical to Spark's default for any unregistered output path,
    // and toggling it around each write would race concurrent commits.
    val statsWanted: Map[String, DataType] =
      if (statsColumns.isEmpty || taskStatsDisabled.get) Map.empty
      else statsFooterSplit(s, dataSchema, statsColumns)._3
    val taskStatsActive = statsWanted.nonEmpty && {
      val confKey = "spark.sql.sources.commitProtocolClass"
      val cls = classOf[StatsCommitProtocol].getName
      val sparkDefault = "org.apache.spark.sql.execution.datasources." +
        "SQLHadoopMapReduceCommitProtocol"
      s.conf.getOption(confKey) match {
        case None | Some(`sparkDefault`) =>
          s.conf.set(confKey, cls); true
        case Some(`cls`) => true
        case Some(_) =>
          // the USER configured a custom commit protocol (e.g. a cloud
          // committer binding) — never clobber it; this commit's bounds
          // fall back to the driver residue pool, correct just slower
          false
      }
    }
    if (taskStatsActive) StatsCommitProtocol.register(dataDir, statsWanted)
    val taskStats: Map[String, Map[String, (String, String)]] =
      try {
        dfOut.write.mode("error").partitionBy(spec.names: _*).parquet(dataDir)
        // keys arrive RELATIVE to the output dir (partition dir +
        // basename, both preserved by the commit rename) — re-qualify
        // them to match the listing below
        StatsCommitProtocol.consume(dataDir).getOrElse(Map.empty).map {
          case (rel, st) =>
            fs.makeQualified(new Path(s"$dataDir/$rel")).toString -> st
        }
      } finally StatsCommitProtocol.consume(dataDir) // idempotent: frees
        // the registration when the write itself threw
    // LEAF partition dirs: one listing level per partition column
    // (`c1=v1/c2=v2/...`), each leaf paired with its decoded per-level
    // RAW values. A NULL partition value writes Hive's default-partition
    // dir; a read-back would silently RE-TYPE it as that literal string
    // — refuse loudly instead (impute or filter nulls before committing).
    def walkParts(p: Path, depth: Int, acc: Seq[String])
        : Seq[(Path, Seq[String])] =
      if (depth == spec.cols.size) Seq((p, acc))
      else {
        val name = spec.names(depth)
        fs.listStatus(p).toSeq
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith(name + "="))
          .flatMap { st =>
            val raw = st.getPath.getName.stripPrefix(name + "=")
            if (raw == "__HIVE_DEFAULT_PARTITION__") {
              fs.delete(new Path(dataDir), true)
              throw new IllegalArgumentException(
                s"Snapshots: partition column '$name' contains NULL rows " +
                  "(written as __HIVE_DEFAULT_PARTITION__); a read-back " +
                  "would silently turn NULL into that literal string — " +
                  "filter or impute nulls before committing")
            }
            // the EXACT inverse of the writer's escaping (%XX only) —
            // NOT java.net.URLDecoder, which also rewrites literal '+'
            // to a space the writer never escaped (silent value
            // corruption and "a+b"/"a b" conflation)
            walkParts(st.getPath, depth + 1,
              acc :+ Bridge.unescapePathName(raw))
          }
      }
    val partDirs: Seq[(Path, Seq[String])] =
      walkParts(new Path(dataDir), 0, Nil)
    // one listing per leaf partition dir, shared by the stats pass and
    // the entry build below
    val filesOf: Seq[(Path, Array[org.apache.hadoop.fs.FileStatus])] =
      partDirs.map { case (p, _) => p -> dataFiles(fs, p) }
    val fileStats =
      // an empty frame writes no partition dirs (only _SUCCESS) — a legal
      // commit shape (e.g. a merge whose delta is empty): nothing to stat
      if (statsColumns.isEmpty || partDirs.isEmpty)
        Map.empty[String, Map[String, (String, String)]]
      else collectStats(s, filesOf.flatMap(_._2).map(_.getPath),
        dataDir, dataSchema, statsColumns, taskStats)
    // bloom columns: the explicit argument wins; otherwise the
    // `graft.bloom.columns` TABLE PROPERTY supplies the default, so a
    // table declared bloom-indexed keeps its filters across appends
    // without every writer passing the list
    val effBloomCols =
      if (bloomColumns.nonEmpty) bloomColumns
      else prevManifest.flatMap(_.props.get(PropBloomColumns)).toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
        .filter(dataSchema.fieldNames.contains)
    val bloomStats: Map[String, Map[String, (String, String)]] =
      if (effBloomCols.isEmpty || partDirs.isEmpty) Map.empty
      else collectBlooms(s, filesOf.flatMap(_._2).map(_.getPath.toString),
        dataSchema, effBloomCols)
    val filesByDir = filesOf.toMap
    val written = partDirs
      .flatMap { case (leaf, rawValues) =>
        // the ENCODED entry value: single column raw (the legacy
        // byte-compat form), multi column URL-encoded '/'-joined —
        // [[PartSpec.valueExpr]]'s exact driver-side twin
        val value = spec.join(rawValues)
        def refuse(why: String): Nothing = {
          fs.delete(new Path(dataDir), true)
          throw new IllegalArgumentException(
            s"Snapshots: partition value cannot $why (dir: $leaf)")
        }
        if (value.exists(c => c == '\t' || c == '\n'))
          refuse("contain a tab/newline — the line-oriented manifest " +
            "cannot carry it")
        // '#' would make the value's manifest line ambiguous with the
        // header lines (multi-column values URL-encode '#', so only the
        // single-column form can ever trip this)
        if (value.startsWith("#"))
          refuse("start with '#' — reserved for the manifest headers")
        // ONE ENTRY PER FILE, stats recorded NOW — files are immutable,
        // so bytes and bounds are exact forever and later commits carry
        // them verbatim
        val dv = dataVersionOf.getOrElse(value, v)
        filesByDir(leaf).map { f =>
          Entry(value, f.getPath.toString, f.getLen, dv,
            fileStats.getOrElse(f.getPath.toString, Map.empty) ++
              bloomStats.getOrElse(normPath(f.getPath.toString), Map.empty))
        }
      }
    val replaced = written.map(_.value).toSet ++ replacedValues
    val carried = carriedOverride.getOrElse {
      // prevManifest is read for constraints on EVERY commit — carrying
      // its entries remains strictly a carryUntouched concern (a full
      // commit replaces everything)
      if (carryUntouched)
        prevManifest.map(_.entries.filterNot(e => replaced(e.value)))
          .getOrElse(Nil)
      else Nil
    }.map { e =>
      // the caller declares these partitions' ROWS changed this commit
      // (merge rewrote files of theirs, possibly to nothing): their
      // carried files are stamped so the change feed cannot miss it
      if (dataChangeValues(e.value)) e.copy(dataVersion = v) else e
    }
    // CONSTRAINTS: enforced between write and rename — a violation
    // deletes the (unreferenced) data dir and refuses the commit, so the
    // table can never hold a violating row. Row-local kinds (CHECK with
    // SQL NULL-passes semantics, declared NOT NULL) run over the WRITTEN
    // rows in ONE aggregate. UNIQUE-per-partition runs over the written
    // rows PLUS the carried files of every partition this commit
    // touches: a file-grain rewrite (DELETE/UPDATE/merge) can introduce
    // a duplicate BETWEEN a rewritten file and an untouched carried
    // sibling of the same partition, which a written-rows-only group-by
    // would miss — the check is still bounded by TOUCHED partitions,
    // never table size. SQL UNIQUE NULL semantics: NULL-bearing keys
    // never conflict (also what exempts carried files null-filling a
    // just-added unique column).
    val activeConstraints = prevManifest.map(_.constraints).getOrElse(Nil)
    if (activeConstraints.nonEmpty && written.nonEmpty) {
      // ANY failure here — a violation, or a constraint expression that
      // no longer resolves against this commit's schema — must not leave
      // the just-written dataDir behind (the refused-commit rule every
      // sibling path follows)
      try {
        val frame = scanEntries(s, partCol, dataSchema, written)
        val (uniques, rowLocal) = activeConstraints.partition(c =>
          constraintKind(c._2)._1 == "unique")
        if (rowLocal.nonEmpty) {
          val aggs = rowLocal.zipWithIndex.map { case ((_, spec), i) =>
            sum(when(rowViolation(spec), 1L).otherwise(0L)).as(s"__c$i")
          }
          val r = frame.agg(aggs.head, aggs.tail: _*).collect()(0)
          rowLocal.zipWithIndex.foreach { case ((n, spec), i) =>
            if (r.getLong(i) > 0)
              throw new IllegalArgumentException(
                s"Snapshots: constraint '$n' ($spec) violated by " +
                  s"${r.getLong(i)} written row(s) — commit refused")
          }
        }
        if (uniques.nonEmpty) {
          val touched = written.map(_.value).toSet ++ dataChangeValues
          val uniqueScope = written ++ carried.filter(e => touched(e.value))
          val scopeFrame = scanEntries(s, partCol, dataSchema, uniqueScope)
          uniques.foreach { case (n, spec) =>
            val cols = constraintKind(spec)._2
            val dups = scopeFrame
              .filter(cols.map(c => col(c).isNotNull).reduce(_ && _))
              .groupBy((PartSpec.parse(partCol).names ++ cols)
                .map(col(_)): _*)
              .agg(count(lit(1)).as("__c0"))
              .filter(col("__c0") > 1).count()
            if (dups > 0)
              throw new IllegalArgumentException(
                s"Snapshots: UNIQUE constraint '$n' ($spec) violated by " +
                  s"$dups key group(s) across this commit's touched " +
                  "partitions — commit refused")
          }
        }
      } catch {
        case e: Throwable =>
          fs.delete(new Path(dataDir), true)
          throw e
      }
    }
    // the SCHEMA CONTRACT, enforced where it can fail loudly and early:
    // a commit that carries older files may ADD columns (carried files
    // read the new column as NULL — parquet's missing-column semantics,
    // the add-column evolution), but a TYPE CHANGE or DROP against
    // carried files would mix conflicting file schemas within one
    // version — refused. Name+widened-type comparison; column order and
    // nullability (nested included) are free (parquet resolves by name).
    if (carried.nonEmpty && prev >= 1) {
      prevManifest.flatMap(_.schema).foreach { ps =>
        // compared by PHYSICAL name: that is the identity carried files
        // actually store — a logical rename (same physical) is legal,
        // while silently re-naming a column in the frame reads as a
        // drop+add and is refused (renames go through renameColumn)
        val prevF = widenStruct(ps).fields
          .map(f => ColumnMapping.physicalName(f) -> f.dataType).toMap
        val newF = widenStruct(dataSchema).fields
          .map(f => ColumnMapping.physicalName(f) -> f.dataType).toMap
        val changed = prevF.collect {
          case (n, t) if newF.get(n).exists(_ != t) =>
            s"$n: ${t.simpleString} -> ${newF(n).simpleString}"
        }
        val droppedCols = prevF.keySet -- newF.keySet
        if (changed.nonEmpty || droppedCols.nonEmpty) {
          // the just-written (unreferenced) data dir must not survive a
          // refused commit — a retry would trip mode("error") on it
          fs.delete(new Path(dataDir), true)
          throw new IllegalArgumentException(
            "Snapshots: commit would mix data schemas within one version (" +
              (changed.map("type change " + _) ++
                droppedCols.map(c => s"dropped column $c")).mkString("; ") +
              " against carried files); type changes and drops require a " +
              "full-snapshot commit — only ADDING columns evolves in place")
        }
      }
    }
    val entries = (carried ++ written).sortBy(e => (e.value, e.path))
    if (entries.isEmpty && !allowEmpty) {
      fs.delete(new Path(dataDir), true)
      throw new IllegalArgumentException(
        "Snapshots: refusing to commit an EMPTY table — this rewrite " +
          "(a full-match DELETE, or a replace of every partition with " +
          "no rows) removes every row; drop the table directory instead " +
          "(a deliberate empty CREATE goes through createEmpty)")
    }
    // the header is the READ schema for every file the version lists —
    // carried files may hold nulls even when THIS commit's frame is
    // non-nullable (nullability, nested included, is deliberately
    // outside the schema contract), so record it nullability-WIDENED
    // recursively: a false non-null guarantee would let the optimizer
    // fold IsNull to false over real nulls, silently wrong results
    val headerSchema = widenStruct(dataSchema)
    // manifest-list indirection: untouched predecessor segments carry as
    // one `#seg` line each; only changed/written entries cost lines (and
    // fold into fresh segments past the threshold) — commit metadata
    // writes are O(touched + segments), never O(table files)
    val (segRefs, inline) = packEntries(s, fs, dir, v, entries,
      prevManifest.map(_.segParts).getOrElse(Nil))
    val headers = Seq(
      SchemaHeader + headerSchema.json,
      MetaHeader + s"ts=${commitTs(prevManifest)} op=$op " +
        s"partCol=${java.net.URLEncoder.encode(spec.encode, "UTF-8")}" +
        retiredKv(retired) +
        propsKv(prevManifest.map(_.props).getOrElse(Map.empty)) +
        minReaderKv(entries, spec.isLegacy) +
        txn.map { case (app, b) =>
          s" txnApp=${java.net.URLEncoder.encode(app, "UTF-8")} txnBatch=$b"
        }.getOrElse(""),
      statsHeader(entries)) ++
      activeConstraints.map { case (n, q) => ConstraintHeader + n + "\t" + q } ++
      segRefs.map(_.line)
    writeManifestAtomic(fs, manifestPath(dir, v),
      (headers ++ inline.map(_.line)).mkString("\n"))
    // best-effort advisory hint (see currentVersion) — never load-bearing
    writeHint(fs, dir, v)
    v
  }
}
