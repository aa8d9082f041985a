package graft.sinks

import java.nio.charset.StandardCharsets
import java.util.UUID


import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** K3/K5 hardened — a minimal ACID commit protocol for the keyed
  * parquet store, replacing `upsertParquet`'s rename-swap when multiple
  * writers may race.
  *
  * Design (public literature: Armbrust et al., "Delta Lake:
  * High-Performance ACID Table Storage over Cloud Object Stores",
  * VLDB 2020 — same skeleton, full-manifest variant):
  *
  *  - Data files are IMMUTABLE and uniquely named
  *    (`data/c<uuid>-part-*.parquet`); nothing ever overwrites them.
  *  - A commit is one file `_txlog/v<version>.manifest` listing every
  *    data file of that snapshot. It is published with atomic
  *    create-if-absent, so exactly ONE writer wins each version number
  *    (optimistic concurrency); losers re-read the new snapshot,
  *    re-merge their batch, and retry — upserts are commutative-safe to
  *    replay because the merge is keyed and version-ordered.
  *  - Readers list the log, pick the highest version, and read exactly
  *    its files: snapshot isolation with no locks, and any prefix of a
  *    crashed commit (orphan data files, no manifest) is invisible.
  *
  * The full-manifest copy-on-write keeps the protocol small; a
  * production table would add partition-level manifests and
  * merge-on-read deltas, which change the I/O profile but not the
  * commit protocol. `create(overwrite = false)` is atomic on
  * HDFS-semantics filesystems (and good enough on the local FS for
  * tests); S3-class object stores need a CAS service for the log
  * append — the same caveat Delta documents.
  */
object TxLog {

  /** Per-file min/max of one integral column (long/int/timestamp),
    * harvested from the parquet FOOTER at commit time — the manifest
    * half of Delta's per-file `stats` JSON. Files whose stats don't
    * overlap a read predicate are skipped without opening them. */
  final case class ColStats(col: String, min: Long, max: Long)

  /** One committed data file; `part` carries the Hive-style partition
    * value for files written by `commitUpsertPartitioned` (the
    * partition column is NOT stored in the file, exactly like Hive/
    * Delta layouts — it is restored from the manifest at read);
    * `stats` the footer min/max per harvested stats column — one entry
    * for range-clustered commits, one PER z-order column for files
    * written by `optimize`, so `readRange` skips on any of them. */
  final case class FileEntry(path: String, part: Option[(String, String)],
                             stats: Seq[ColStats] = Nil)

  /** `dvs`: deletion-vector sidecar files (merge-on-read DELETE, the
    * Delta DV evolution): each holds (file_name, row_index) rows
    * masking deleted positions of still-referenced data files. A DV
    * row whose file_name no longer appears in `files` is stale and
    * harmless (the anti-join finds no match); rewriting commits
    * (upsert / optimize / COW delete of everything) materialize
    * deletions and drop the dv list.
    *
    * `props`: small string key-values published ATOMICALLY with the
    * commit (the Delta `txn`/commitInfo pattern): an upsert's caller
    * can stamp e.g. a streaming high-water mark, and readers get it
    * from the manifest alone — no data scan. Non-rewriting commits
    * carry the prior snapshot's props forward verbatim. */
  final case class Snapshot(version: Long, files: Seq[FileEntry],
                            dvs: Seq[String] = Nil,
                            props: Map[String, String] = Map.empty)

  /** Conventional props key for a streaming writer's exactly-once
    * high-water mark (the Delta `txn.version` analog): the IVM legs
    * stamp their last applied batch id here and read it back in O(1)
    * from the manifest instead of scanning the view for max(ver). */
  val HighWaterProp = "graft.highWater"

  /** Reserved props key every commit stamps with its wall-clock
    * publish time (ms). `readAsOf` resolves timestamp time travel
    * from this durable in-manifest value instead of filesystem
    * mtimes, which a copy/backup-restore/object-store sync refreshes.
    * Written by `tryCommit` itself (callers cannot meaningfully set
    * it — a fresh stamp overrides theirs, and a carried-forward
    * snapshot prop is restamped per version). */
  val PublishTsProp = "graft.publishedAtMs"

  /** Internal clustering column the plain upsert path stamps into
    * data files: `xxhash64(pk)`, range-clustered so every file's
    * manifest carries a narrow hash range and a later upsert can
    * merge ONLY the files whose range contains a batch key's hash
    * (file-level pruned merge — commit cost O(delta + overlapping
    * files), not O(table)). Stored in the files, never surfaced:
    * every read drops it. */
  private[graft] val PkHashCol = "__graft_pkh"

  /** Synthetic per-file stats entry carrying the file's ROW COUNT in
    * the manifest (min = max = rows): lets the pruned-merge planner
    * compare delta size against table size without opening a single
    * footer. Never a data column; readers ignore it like any stats
    * triple for a column they don't know. */
  private[graft] val RowsStat = "__graft_rows"

  private val LogDir = "_txlog"
  private val DataDir = "data"

  /** Observation hook fired on EVERY timed commit phase with
    * (tag, seconds): lets specs assert which phases a commit actually
    * took (e.g. "pure append = one stage+write and NO merge+write")
    * and lets the bench surface per-phase walls, without re-plumbing
    * the commit path. Production default is a no-op; the always-on
    * nanoTime pair costs nanoseconds against second-scale phases. */
  @volatile private[graft] var timedHook: (String, Double) => Unit =
    (_, _) => ()
  private[graft] def timed[T](tag: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    timedHook(tag, (System.nanoTime() - t0) / 1e9)
    r
  }

  /** Hive's directory-name sentinel for a NULL partition value. */
  private val HiveNullPart = "__HIVE_DEFAULT_PARTITION__"

  private def fsOf(spark: SparkSession, table: String): FileSystem =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(table: String, version: Long): Path =
    new Path(s"$table/$LogDir/v${"%020d".format(version)}.manifest")

  /** Every Nth commit also records its version in `_last_checkpoint`
    * (the Delta-paper move): readers start from that hint and probe the
    * short dense tail instead of listing the whole log directory, so
    * snapshot resolution stays O(interval) as commit count grows
    * unbounded. The hint is best-effort and monotone-safe: any value it
    * holds is a committed version (written post-publish), so a stale or
    * lost hint only lengthens the probe, never breaks correctness. */
  private val CheckpointInterval = 10L
  private val CheckpointHint = "_last_checkpoint"

  /** Test instrumentation: counts full log-directory listings taken by
    * `latest` (the O(commits) path the checkpoint hint avoids). */
  private[graft] val logListCount = new java.util.concurrent.atomic.AtomicLong

  private def readHint(fs: FileSystem, table: String): Option[Long] = {
    val p = new Path(s"$table/$LogDir/$CheckpointHint")
    try {
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
        val v = text.toLong
        // the hint must reference a real manifest — a torn write or a
        // corrupt value falls back to the listing path
        if (v >= 1 && fs.exists(manifestPath(table, v))) Some(v) else None
      }
    } catch { case _: Exception => None }
  }

  private def writeHint(fs: FileSystem, table: String, version: Long): Unit =
    try {
      val out = fs.create(new Path(s"$table/$LogDir/$CheckpointHint"), true)
      try out.write(version.toString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    } catch { case _: Exception => () } // best-effort: readers fall back

  /** Highest committed snapshot, or None for an empty/absent table.
    * With a checkpoint hint present this never lists the log directory:
    * versions are dense (each commit is prev+1), so probing forward
    * from the hinted version until the first gap finds the head in
    * O(commits since last checkpoint) existence checks. */
  def latest(spark: SparkSession, table: String): Option[Snapshot] = {
    val fs = fsOf(spark, table)
    val dir = new Path(s"$table/$LogDir")
    readHint(fs, table) match {
      case Some(hinted) =>
        var v = hinted
        while (fs.exists(manifestPath(table, v + 1))) v += 1
        Some(readManifest(fs, table, v))
      case None =>
        if (!fs.exists(dir)) None
        else {
          logListCount.incrementAndGet()
          val versions = fs.listStatus(dir).map(_.getPath.getName)
            .filter(n => n.startsWith("v") && n.endsWith(".manifest"))
            .map(n => n.stripPrefix("v").stripSuffix(".manifest").toLong)
          if (versions.isEmpty) None else Some(readManifest(fs, table, versions.max))
        }
    }
  }

  private def readManifest(fs: FileSystem, table: String, version: Long): Snapshot = {
    val in = fs.open(manifestPath(table, version))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    // trailing stats suffix = zero or more <col>\u0001<min>\u0001<max> triples
    def statsOf(rest: Seq[String]): Seq[ColStats] = {
      require(rest.length % 3 == 0,
        s"TxLog: malformed stats suffix in v$version manifest")
      rest.grouped(3).map { case Seq(sc, mn, mx) =>
        ColStats(sc, mn.toLong, mx.toLong) }.toSeq
    }
    val files = text.linesIterator.collect {
      // file=<path>[stats triples...]
      case l if l.startsWith("file=") =>
        val fields = l.stripPrefix("file=").split('\u0001').toSeq
        FileEntry(fields.head, None, statsOf(fields.tail))
      // pfile=<col>\u0001<value>\u0001<path>[stats triples...]
      case l if l.startsWith("pfile=") =>
        val fields = l.stripPrefix("pfile=").split('\u0001').toSeq
        FileEntry(fields(2), Some((fields(0), fields(1))),
          statsOf(fields.drop(3)))
    }.toSeq
    val dvs = text.linesIterator.collect {
      case l if l.startsWith("dv=") => l.stripPrefix("dv=")
    }.toSeq
    val props = text.linesIterator.collect {
      case l if l.startsWith("prop=") =>
        val kv = l.stripPrefix("prop=").split('\u0001')
        kv(0) -> (if (kv.length > 1) kv(1) else "")
    }.toMap
    Snapshot(version, files, dvs, props)
  }

  /** Read the table at its latest version (None = never committed). */
  def read(spark: SparkSession, table: String): Option[DataFrame] =
    readVersion(spark, table, latest(spark, table).map(_.version).getOrElse(-1L))

  /** Time travel: read the table exactly as of `version`. */
  def readVersion(spark: SparkSession, table: String, version: Long): Option[DataFrame] =
    readFiles(spark, table, version, _ => true)

  /** Time travel by TIMESTAMP (the Delta `timestampAsOf` contract):
    * read the table as of the LATEST version whose publish time is
    * ≤ `tsMillis`. The publish time is the `graft.publishedAtMs` prop
    * every commit stamps INSIDE its manifest — durable metadata that
    * survives a table copy/backup-restore/object-store sync, where
    * filesystem mtimes are refreshed and would silently resolve to
    * wrong versions. Manifests predating the stamp (legacy tables)
    * fall back to their filesystem mtime. Stamps are taken immediately
    * before each publish attempt (an OCC retry restamps), so their
    * order matches version order up to clock granularity; on a tie or
    * sub-granularity inversion the higher version wins (max of the
    * qualifying versions). None when the table is absent or every
    * RETAINED manifest postdates the timestamp — after
    * `expireVersions` the resolution is against what is retained, the
    * same behavior Delta has after VACUUM drops old log entries.
    * Resolution reads each retained manifest (small metadata files,
    * O(retained log) — time travel is not a hot path). */
  def readAsOf(spark: SparkSession, table: String,
               tsMillis: Long): Option[DataFrame] = {
    val fs = fsOf(spark, table)
    val dir = new Path(s"$table/$LogDir")
    if (!fs.exists(dir)) return None
    val qualifying = fs.listStatus(dir)
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith("v") && n.endsWith(".manifest")
      }
      .flatMap { st =>
        val v = st.getPath.getName.stripPrefix("v")
          .stripSuffix(".manifest").toLong
        val publishedAt =
          try readManifest(fs, table, v).props.get(PublishTsProp).map(_.toLong)
          catch { case _: Exception => None } // corrupt/unreadable -> mtime
        if (publishedAt.getOrElse(st.getModificationTime) <= tsMillis)
          Some(v)
        else None
      }
    if (qualifying.isEmpty) None
    else readVersion(spark, table, qualifying.max)
  }

  /** Partition-pruned read at the latest version: only data files whose
    * manifest partition value passes `keep` are listed, opened, or
    * scanned — manifest-level pruning, the same skip Hive/Delta get
    * from partition dirs (proved via `df.inputFiles` in `TxLogSpec`).
    * Unpartitioned files always load (they may hold any value). A
    * NULL partition value reaches `keep` as `null` — the same decoding
    * the read path applies to the restored column — never as Hive's
    * `__HIVE_DEFAULT_PARTITION__` sentinel string. */
  def readPruned(spark: SparkSession, table: String,
                 keep: String => Boolean): Option[DataFrame] =
    latest(spark, table).flatMap(s =>
      readFiles(spark, table, s.version, e => e.part.forall(p =>
        keep(if (p._2 == HiveNullPart) null else p._2))))

  /** Stats-pruned read at the latest version: only data files whose
    * manifest `[min, max]` for `statsCol` overlaps `[lo, hi]` are
    * opened — Delta-style file skipping from footer stats, effective
    * when commits range-cluster on the column (`statsCol` at commit).
    * File granularity means the survivors are a SUPERSET of the
    * matching rows; compose with the row filter. Files without stats
    * for this column (older commits, all-null files) always load. */
  def readRange(spark: SparkSession, table: String, statsCol: String,
                lo: Long, hi: Long): Option[DataFrame] =
    latest(spark, table).flatMap(s =>
      readFiles(spark, table, s.version, e => e.stats.forall(cs =>
        cs.col != statsCol || (cs.max >= lo && cs.min <= hi))))

  /** Point-lookup pruned read at the latest version: only data files
    * that MAY hold one of `values` in `column` are opened. Two probes
    * per file, both free of false negatives so the survivors are a
    * strict SUPERSET of the matching rows (compose with the row-level
    * join/filter): the manifest `[min, max]` for the column (integral
    * values only), then the file's parquet BLOOM for the column — a
    * footer+bloom-pages read, no data pages. A file without stats or
    * bloom for the column is never cleared. Blooms exist on the
    * internal pk-hash column for every default-path commit (pass
    * `column = PkHashCol` with `xxhash64(pk)` values) and on any
    * column the writer declared in `commitUpsert(indexCols = ...)`
    * (pass raw values of the column's type). None = absent table or
    * every file cleared (the caller skips the branch — same contract
    * as an absent table). This is the delta-join IVM read path: a
    * small delta joining an accumulated TxLog side touches only the
    * files that can hold its keys, keeping the read side
    * O(delta + overlapping files) instead of O(view). */
  def readMayContain(spark: SparkSession, table: String, column: String,
                     values: Array[Any]): Option[DataFrame] = {
    if (values.isEmpty) return None // empty probe set matches nothing
    latest(spark, table).flatMap { snap =>
      val fs = fsOf(spark, table)
      val longs = values.collect {
        case l: java.lang.Long => l.longValue()
        case i: java.lang.Integer => i.longValue()
        case s: java.lang.Short => s.longValue()
      }
      val allIntegral = longs.length == values.length
      val sorted = longs.sorted
      // any probe value inside [lo, hi]? (binary search)
      def rangeHit(lo: Long, hi: Long): Boolean = {
        var a = 0; var b = sorted.length
        while (a < b) {
          val m = (a + b) >>> 1
          if (sorted(m) < lo) a = m + 1 else b = m
        }
        a < sorted.length && sorted(a) <= hi
      }
      readFiles(spark, table, snap.version, { e =>
        val rangeOk = e.stats.find(_.col == column) match {
          case Some(cs) if allIntegral => rangeHit(cs.min, cs.max)
          case _ => true // no stats / non-integral values: can't clear
        }
        rangeOk && (
          fileBlooms(fs, new Path(s"$table/${e.path}"), column) match {
            case Some(bfs) => values.exists(v =>
              bfs.exists(bf => bf.findHash(bloomHash(bf, v))))
            case None => true // no bloom: cannot be cleared
          })
      })
    }
  }

  /** Parquet's own hash of a probe value for a bloom lookup — typed
    * to the column's physical encoding (INT64 for Spark longs, INT32
    * for ints, BINARY for strings), matching what the writer fed the
    * filter. */
  private def bloomHash(
      bf: org.apache.parquet.column.values.bloomfilter.BloomFilter,
      v: Any): Long = v match {
    case l: java.lang.Long => bf.hash(l.longValue())
    case i: java.lang.Integer => bf.hash(i.intValue())
    // short/byte columns land in parquet as INT32, so their blooms
    // were fed ints — hash the widened int, matching the writer
    case s: java.lang.Short => bf.hash(s.intValue())
    case b: java.lang.Byte => bf.hash(b.intValue())
    case s: String =>
      bf.hash(org.apache.parquet.io.api.Binary.fromString(s))
    case d: java.lang.Double => bf.hash(d.doubleValue())
    case f: java.lang.Float => bf.hash(f.floatValue())
    case b: Array[Byte] =>
      bf.hash(org.apache.parquet.io.api.Binary.fromConstantByteArray(b))
    case other => sys.error(
      s"TxLog.readMayContain: unsupported probe value type ${other.getClass}")
  }

  /** Footer min/max of an integral-typed column across a parquet
    * file's row groups, plus its row count — a metadata-only read (no
    * data pages), the same information Delta persists as write-time
    * stats. None when the column is missing, non-integral, or
    * all-null in the file (such a file is never skipped). */
  private def footerStats(fs: FileSystem, file: Path,
                          statsCol: String): (Long, Option[(Long, Long)]) = {
    val (rows, stats) = footerStatsMulti(fs, file, Seq(statsCol))
    (rows, stats.headOption.map(cs => (cs.min, cs.max)))
  }

  /** Footer min/max of several integral columns in ONE metadata read —
    * the multi-column harvest `optimize`'s z-order commit uses (one
    * `ColStats` per z-order column per file). */
  private def footerStatsMulti(fs: FileSystem, file: Path,
                               cols: Seq[String]): (Long, Seq[ColStats]) = {
    import scala.jdk.CollectionConverters._
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
        fs.getFileStatus(file), fs.getConf))
    try {
      val blocks = rdr.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val stats = cols.flatMap { statsCol =>
        val ranges = blocks.flatMap { b =>
          b.getColumns.asScala
            .find(_.getPath.toDotString == statsCol)
            .flatMap { c =>
              val st = c.getStatistics
              if (st == null || !st.hasNonNullValue) None
              else (st.genericGetMin, st.genericGetMax) match {
                case (mn: java.lang.Number, mx: java.lang.Number) =>
                  Some((mn.longValue(), mx.longValue()))
                case _ => None
              }
            }
        }
        if (ranges.isEmpty) None
        else Some(ColStats(statsCol, ranges.map(_._1).min, ranges.map(_._2).max))
      }
      (rows, stats)
    } finally rdr.close()
  }

  /** The per-row-group parquet bloom filters of `col` in one file —
    * a footer+bloom-pages read, no data pages. None when ANY row
    * group lacks a bloom for the column (the file then can't be
    * cleared by probing and must count as a possible holder). */
  private def fileBlooms(fs: FileSystem, file: Path, col: String)
      : Option[Seq[org.apache.parquet.column.values.bloomfilter.BloomFilter]] = {
    import scala.jdk.CollectionConverters._
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
        fs.getFileStatus(file), fs.getConf))
    try {
      val per = rdr.getFooter.getBlocks.asScala.toSeq.map { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == col)
          .flatMap(cc => Option(rdr.getBloomFilterDataReader(b))
            .flatMap(r => Option(r.readBloomFilter(cc))))
      }
      if (per.isEmpty || per.exists(_.isEmpty)) None
      else Some(per.flatten)
    } finally rdr.close()
  }

  /** Exact per-file pk-hash SIDECAR index (`<data-file>.pkh`, r11):
    * the file's full PkHashCol column — every value, multiplicity
    * kept — sorted ascending as raw big-endian longs behind a
    * [magic, count] header. Written at stage time (the driver harvest
    * reads the same column anyway, so generation is near-free on the
    * bounded path), it lets the holder probe decide containment
    * EXACTLY on the driver: a sorted merge against the delta's sorted
    * hashes replaces both the per-file parquet bloom probe (whose
    * false positives convict ~every file once the in-range candidate
    * count reaches a few hundred) and the executor-side containment
    * scan job. No false negatives by construction — the sidecar IS
    * the column. Degradation is always safe: a missing, torn
    * (header/length mismatch), or over-[[SidecarMaxRows]] sidecar
    * falls back to the bloom + containScan path for that file only.
    * Sidecars are not manifest entries: readers never open them, a
    * crashed commit merely orphans them next to their orphaned data
    * file, and `vacuumOrphans` reaps them with their base file. */
  private val SidecarSuffix = ".pkh"
  private val SidecarMagic = 0x6772616674506b48L // "graftPkH"
  private val SidecarMaxRows = 4000000L

  private def writeSidecar(fs: FileSystem, table: String, filePath: String,
                           sorted: Array[Long]): Unit =
    try {
      val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
        fs.create(new Path(s"$table/$filePath$SidecarSuffix"), true), 1 << 16))
      try {
        out.writeLong(SidecarMagic)
        out.writeLong(sorted.length.toLong)
        var i = 0
        while (i < sorted.length) { out.writeLong(sorted(i)); i += 1 }
      } finally out.close()
    } catch { case e: Exception =>
      // best-effort: a probe without the sidecar is slower, never wrong
      System.err.println(s"[txlog] sidecar write failed for $filePath: $e")
    }

  private def readSidecar(fs: FileSystem, table: String,
                          filePath: String): Option[Array[Long]] =
    try {
      val p = new Path(s"$table/$filePath$SidecarSuffix")
      val len = try fs.getFileStatus(p).getLen
        catch { case _: java.io.FileNotFoundException => return None }
      // a torn write fails the [magic, count] header check below;
      // length sanity first so we never allocate for garbage
      if (len < 16 || len % 8 != 0 || (len - 16) / 8 > SidecarMaxRows)
        return None
      val bytes = new Array[Byte](len.toInt)
      val in = fs.open(p)
      try in.readFully(0, bytes) finally in.close()
      val bb = java.nio.ByteBuffer.wrap(bytes)
      if (bb.getLong() != SidecarMagic) return None
      val count = bb.getLong()
      if (count != (len - 16) / 8) return None
      val out = new Array[Long](count.toInt)
      bb.asLongBuffer().get(out)
      Some(out)
    } catch { case _: Exception => None }

  /** Any common element between two SORTED long arrays (two-pointer
    * merge walk — O(|a| + |b|), zero allocation). */
  private def sortedIntersects(a: Array[Long], b: Array[Long]): Boolean = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) i += 1
      else if (a(i) > b(j)) j += 1
      else return true
    }
    false
  }

  /** Drop a data file AND its sidecar (if any) — the staged-file
    * cleanup every lost-race / aborted-commit path runs. */
  private def dropDataFile(fs: FileSystem, table: String,
                           filePath: String): Unit = {
    fs.delete(new Path(s"$table/$filePath"), false)
    try { fs.delete(new Path(s"$table/$filePath$SidecarSuffix"), false); () }
    catch { case _: Exception => () }
  }

  /** Driver-local read of ONE INT64 column out of a parquet file —
    * no Spark job, just the parquet-hadoop record reader with a
    * single-column projection. Used to harvest a just-staged delta's
    * pk hashes for the holder probe (bounded by BloomProbeMaxKeys
    * rows, so at most ~16 MB of longs). Throws on NULLs or a missing
    * column; the caller falls back to the executor-side probe. */
  private def readLongColumn(fs: FileSystem, file: Path,
                             column: String): Iterator[Long] = {
    val conf = new org.apache.hadoop.conf.Configuration(fs.getConf)
    // project through the file's OWN field declaration — Spark writes
    // a non-nullable column as `required`, a nullable one as
    // `optional`, and the projection must match the file exactly
    val inFile = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromStatus(fs.getFileStatus(file), fs.getConf)
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(inFile)
    val field =
      try rdr.getFooter.getFileMetaData.getSchema
        .getType(Seq(column): _*)
      finally rdr.close()
    conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
      new org.apache.parquet.schema.MessageType("probe", field).toString)
    val reader = org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), file)
      .withConf(conf)
      .build()
    val buf = scala.collection.mutable.ArrayBuilder.make[Long]
    try {
      var g = reader.read()
      while (g != null) {
        require(g.getFieldRepetitionCount(0) > 0,
          s"TxLog: NULL $column in staged file $file")
        buf += g.getLong(0, 0)
        g = reader.read()
      }
    } finally reader.close()
    buf.result().iterator
  }

  private def readFiles(spark: SparkSession, table: String, version: Long,
                        keep: FileEntry => Boolean): Option[DataFrame] = {
    if (version < 0) return None
    val fs = fsOf(spark, table)
    val snap = readManifest(fs, table, version)
    val kept = snap.files.filter(keep)
    if (kept.isEmpty) None
    else {
      import org.apache.spark.sql.functions.{col, lit}
      val hasDvs = snap.dvs.nonEmpty
      // group by partition value: the partition column lives in the
      // manifest, not the files, and is restored as a literal per group
      val frames = kept.groupBy(_.part).map {
        case (part, es) =>
          val raw = spark.read.parquet(es.map(e => s"$table/${e.path}"): _*)
          // deletion vectors mask (file, row position): surface the
          // scan's hidden file identity + row index BEFORE any union
          // (the `_metadata` struct is per-scan and doesn't survive it)
          val masked =
            if (!hasDvs) raw
            else raw.withColumn("__dv_fn", col("_metadata.file_name"))
              .withColumn("__dv_ri", col("_metadata.row_index"))
          part match {
            case None => masked
            case Some((c, v)) =>
              // Hive writes NULL partition values as a sentinel dir
              // name; restore a real NULL (as Hive/Delta do), not the
              // literal sentinel string
              val restored =
                if (v == HiveNullPart) lit(null).cast("string") else lit(v)
              masked.withColumn(c, restored)
          }
      }
      // the internal pk-hash clustering column never surfaces to readers
      val unioned = frames.reduce(_.unionByName(_)).drop(PkHashCol)
      if (!hasDvs) Some(unioned)
      else {
        // one anti-join against the union of the snapshot's DV files:
        // live rows survive, masked positions drop. DV rows naming
        // files outside this snapshot (stale after a rewrite) simply
        // never match. The DV side is deleted-row COUNT sized —
        // Catalyst broadcasts it while small, exchanges past that.
        val dv = spark.read
          .parquet(snap.dvs.map(d => s"$table/$d"): _*)
          .select(col("file_name").as("__dv_fn"),
            col("row_index").as("__dv_ri"))
        Some(unioned.join(dv, Seq("__dv_fn", "__dv_ri"), "left_anti")
          .drop("__dv_fn", "__dv_ri"))
      }
    }
  }

  /** Merge `batch` into the table (last-wins by `pk` ordered by
    * `versionCol`, the `Sinks.upsert` total order) and commit it as a
    * new snapshot. Returns the committed version. Safe under concurrent
    * writers: losing a version race re-reads and re-merges, so every
    * retry folds the winner's rows into the next attempt.
    *
    * SCHEMA EVOLUTION (Delta `mergeSchema` ADD-COLUMN semantics): a
    * batch may carry columns the table has never seen, and a batch
    * may omit columns the table has — both sides are conformed to the
    * column UNION with NULLs in the gaps before the merge. A column
    * appearing on both sides with a different type is rejected (type
    * changes are a rewrite migration, not an append-time implicit
    * cast). A column-ADDING upsert always rewrites the whole snapshot
    * (the pruned-merge path refuses it), so all of a version's files
    * share one schema — evolution never creates mixed-schema reads,
    * and time travel to a pre-evolution version returns the old
    * schema untouched.
    *
    * With `statsCol` set the merged output is RANGE-CLUSTERED on that
    * column into (at most) `clusterFiles` data files, and each file's
    * footer min/max is carried into the manifest — so `readRange` can
    * skip non-overlapping files without opening them (Delta's
    * single-column OPTIMIZE-ZORDER analog; multi-column interleaving
    * is the documented extension). The stats harvest is one footer
    * read per staged file — metadata-only, no data scan. */
  /** Conform two frames to their column UNION for an evolving merge:
    * existing columns keep their position, genuinely new batch
    * columns append in batch order, and the side missing a column
    * takes a typed NULL. Same-name/different-type collides loudly. */
  /** Recursively mark every nested slot nullable — the comparison key
    * under which two types differing only in containsNull /
    * valueContainsNull / struct-field nullability are the same type
    * (Spark's `DataType.asNullable` is private). */
  private[graft] def nullableNorm(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case ArrayType(et, _) => ArrayType(nullableNorm(et), containsNull = true)
      case MapType(kt, vt, _) =>
        MapType(nullableNorm(kt), nullableNorm(vt), valueContainsNull = true)
      case StructType(fs) => StructType(fs.map(f =>
        f.copy(dataType = nullableNorm(f.dataType), nullable = true)))
      case other => other
    }
  }

  private def conformForEvolution(existing: DataFrame,
                                  batch: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{col, lit}
    val eTypes = existing.schema.fields.map(f => f.name -> f.dataType).toMap
    val bTypes = batch.schema.fields.map(f => f.name -> f.dataType).toMap
    // Nullability is widening, not a type change (Delta mergeSchema
    // semantics): ARRAY<BIGINT> with containsNull=false round-tripped
    // through parquet comes back containsNull=true, and rejecting that
    // would break every evolved re-append of an array/struct column.
    // Only a difference that survives nullable-normalization clashes.
    val clash = eTypes.keySet.intersect(bTypes.keySet)
      .filter(c => nullableNorm(eTypes(c)) != nullableNorm(bTypes(c)))
    require(clash.isEmpty,
      s"TxLog: schema evolution cannot change column types: " +
        clash.toSeq.sorted.map(c =>
          s"$c ${eTypes(c).sql} -> ${bTypes(c).sql}").mkString(", "))
    val all = existing.columns ++
      batch.columns.filterNot(eTypes.contains)
    // Union type per column: where the two sides differ (post-guard,
    // nullability-only) both conform to the nullable-widened type so
    // the merge sees one schema.
    val unified: Map[String, org.apache.spark.sql.types.DataType] =
      all.map { c =>
        c -> ((eTypes.get(c), bTypes.get(c)) match {
          case (Some(e), Some(b)) if e != b => nullableNorm(e)
          case (Some(e), _)                 => e
          case (_, Some(b))                 => b
          case _ => sys.error(s"TxLog: column $c on neither side")
        })
      }.toMap
    def pad(df: DataFrame, types: Map[String, org.apache.spark.sql.types.DataType]) =
      df.select(all.map(c => types.get(c) match {
        case Some(t) if t == unified(c) => col(c)
        case Some(_) => col(c).cast(unified(c)).as(c)
        case None => lit(null).cast(unified(c)).as(c)
      }): _*)
    (pad(existing, eTypes), pad(batch, bTypes))
  }

  private def mergeEvolved(batch: DataFrame, existing: Option[DataFrame],
                           pk: String, versionCol: String): DataFrame =
    existing match {
      case None => batch
      case Some(e) =>
        val (e2, b2) = conformForEvolution(e, batch)
        Sinks.upsert(b2, Some(e2), pk, versionCol)
    }

  /** Stage `df` into `data/` under `commitId`: write to a temp dir,
    * harvest footer stats for `statCols` per part file, drop row-less
    * files from empty range cells (keeping ONE anchor when
    * `keepAnchor` and nothing has rows, so an empty table still reads
    * with its schema), and move the survivors to their immutable
    * names. Returns the new FileEntries with their row counts (free
    * from the same footer read that harvested the stats) and, for
    * pk-clustered commits, the file's SORTED pk hashes (the sidecar
    * content — also written next to the file here, so the commit that
    * created a file pays its index exactly once). */
  private def stageData(fs: FileSystem, table: String, commitId: String,
                        df: DataFrame, statCols: Seq[String],
                        keepAnchor: Boolean,
                        bloomCols: Seq[String] = Nil,
                        sidecars: Boolean = true)
      : Seq[(FileEntry, Long, Option[Array[Long]])] = {
    val tmp = new Path(s"$table/.staged-$commitId")
    // parquet BLOOM FILTERS on the pk hash (and any caller-declared
    // index columns): the prune probe and `readMayContain` test delta
    // keys against each candidate file's bloom (footer-only) instead
    // of scanning its rows — an insert-only delta clears every file
    // without reading a data page
    val blooms =
      (if (statCols.contains(PkHashCol)) bloomCols :+ PkHashCol
       else bloomCols).distinct
    val writer = blooms.foldLeft(df.write)((w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true"))
    (if (blooms.isEmpty) writer
     else writer.option("parquet.bloom.filter.adaptive.enabled", "true"))
      .mode("overwrite").parquet(tmp.toString)
    val dataDir = new Path(s"$table/$DataDir")
    fs.mkdirs(dataDir)
    val parts = fs.listStatus(tmp)
      .filter(_.getPath.getName.startsWith("part-")).toSeq
      .map(st => (st, footerStatsMulti(fs, st.getPath, statCols)))
    val withRows = parts.filter { case (_, (rows, _)) => rows > 0L }
    val chosen =
      if (withRows.nonEmpty) withRows
      else if (keepAnchor) parts.take(1)
      else Nil
    parts.diff(chosen).foreach { case (st, _) => fs.delete(st.getPath, false) }
    val staged = chosen.map { case (st, (rows, stats)) =>
      val name = s"c$commitId-${st.getPath.getName}"
      val path = s"$DataDir/$name"
      if (!fs.rename(st.getPath, new Path(dataDir, name)))
        sys.error(s"TxLog: failed to stage ${st.getPath}")
      // exact pk-hash sidecar for pk-clustered files: the same column
      // read the bounded harvest pays anyway, done once at stage time
      // (page-cache hot) and indexed forever. Over-cap files skip it —
      // a view-sized driver read here would be O(table) driver work.
      val hashes: Option[Array[Long]] =
        if (!sidecars || !statCols.contains(PkHashCol) ||
            rows > SidecarMaxRows) None
        else if (rows == 0L) { // schema anchor: exactly "holds nothing"
          writeSidecar(fs, table, path, Array.emptyLongArray)
          Some(Array.emptyLongArray)
        } else try {
          val a = readLongColumn(fs, new Path(s"$table/$path"),
            PkHashCol).toArray
          java.util.Arrays.sort(a)
          writeSidecar(fs, table, path, a)
          Some(a)
        } catch { case e: Exception =>
          System.err.println(
            s"[txlog] sidecar harvest failed for $path: $e")
          None
        }
      (FileEntry(path, None,
        stats :+ ColStats(RowsStat, rows, rows)), rows, hashes)
    }
    fs.delete(tmp, true)
    staged
  }

  /** File-level pruned-merge plan for one upsert attempt, or None when
    * the attempt must rewrite the whole table. Eligibility: every file
    * of the snapshot is unpartitioned, carries a `PkHashCol` range, no
    * deletion vectors are outstanding, and the batch adds no columns
    * (schema evolution keeps the one-schema-per-snapshot invariant by
    * rewriting).
    *
    * Two probe stages, both exact-no-false-negative at file
    * granularity:
    *  1. RANGE: a file containing batch key k has xxhash64(k) inside
    *     its manifest min/max by construction — one delta-sized
    *     distinct + a broadcast range join against the file-count-
    *     bounded bounds frame (past ~10^4 files the documented
    *     refinement is a sorted-interval lookup).
    *  2. CONTAINMENT: uniform hashes make EVERY file range-overlap an
    *     insert-heavy delta even though none holds its keys, so the
    *     range survivors are scanned ONCE (null-safe semi join on the
    *     real pk, `_metadata.file_name` identifying the holder) and
    *     only files that actually HOLD a batch key are rewritten.
    *     An insert-only batch therefore writes delta-sized new files
    *     and carries the entire table by reference — the true
    *     O(delta) commit; update-heavy batches degrade smoothly to
    *     the overlap set.
    * Cost: O(range-overlap scan) read + O(delta + holder files)
    * write. */
  /** One upsert attempt's pruned-merge plan. `holdRows` is None when
    * NO file holds a batch key (the pure-append case); `batchUnique`
    * is true when the probe PROVED the batch pk-unique (every row's
    * pk hash distinct — same pk implies same hash, so hash-unique
    * implies pk-unique; a hash collision can only force an
    * unnecessary dedupe, never skip a needed one). */
  private final case class PrunedPlan(carried: Seq[FileEntry],
                                      holdRows: Option[DataFrame],
                                      schemaOnly: DataFrame,
                                      outFiles: Int,
                                      batchUnique: Boolean,
                                      batchEmpty: Boolean)

  private def prunePlan(spark: SparkSession, snap: Snapshot, table: String,
                        batch: DataFrame, pk: String): Option[PrunedPlan] = {
    import org.apache.spark.sql.functions.{broadcast, col, xxhash64}
    val eligible = snap.dvs.isEmpty && snap.files.nonEmpty &&
      snap.files.forall(e => e.part.isEmpty && e.stats.exists(_.col == PkHashCol))
    if (!eligible) return None
    val head = spark.read.parquet(s"$table/${snap.files.head.path}")
    val eTypes = head.schema.fields.filterNot(_.name == PkHashCol)
      .map(f => f.name -> f.dataType).toMap
    val fits = batch.schema.fields.forall(f => eTypes.get(f.name)
      .exists(t => nullableNorm(t) == nullableNorm(f.dataType)))
    if (!fits) return None
    import spark.implicits._
    val schemaOnly = head.drop(PkHashCol).limit(0)
    val fs = fsOf(spark, table)
    // ONE delta execution for the whole probe: collect the pk hashes
    // WITH multiplicity (driver-bounded) and run everything driver-
    // side — batch-uniqueness detection, range check against the
    // manifest bounds, then parquet BLOOM membership per surviving
    // file (footer-only). No false negatives (stats are true min/max;
    // blooms never false-negative), so a carried file can never hide
    // a merged key; a bloom false positive only rewrites one extra
    // file. Past the cap, fall back to an executor-side exact
    // containment scan of the range survivors.
    val hsRows = batch.select(xxhash64(col(pk)).as("__h"))
      .limit(BloomProbeMaxKeys + 1).collect()
    // VIEW-SCALE bailout: when the delta approaches the table's row
    // count, nearly every file is a true holder — the per-file
    // bloom/footer probing can save nothing and the pruned carry is
    // empty, so the full-rewrite path (one merge, zero footer reads)
    // is strictly cheaper. Row counts ride the manifest (RowsStat),
    // so this decision is metadata-only; files from pre-RowsStat
    // commits contribute 0 and bias TOWARD probing, which only costs
    // probe time, never correctness.
    val tableRows = snap.files.iterator.flatMap(
      _.stats.find(_.col == RowsStat).map(_.min)).sum
    if (tableRows > 0 && hsRows.length.toLong * 2 >= tableRows)
      return None
    var unique = false
    val (hold, carried) =
      if (hsRows.length <= BloomProbeMaxKeys) {
        val all = hsRows.map(_.getLong(0)).sorted
        val hs = all.distinct
        unique = hs.length == all.length
        // hashes falling inside [lo, hi]: binary-search the sorted
        // delta hashes — O(log d) per file plus the in-range slice
        def inRange(lo: Long, hi: Long): Array[Long] = {
          var a = 0; var b = hs.length
          while (a < b) {
            val m = (a + b) >>> 1
            if (hs(m) < lo) a = m + 1 else b = m
          }
          var e = a
          while (e < hs.length && hs(e) <= hi) e += 1
          java.util.Arrays.copyOfRange(hs, a, e)
        }
        snap.files.partition { e =>
          val cs = e.stats.find(_.col == PkHashCol).get
          val cand = inRange(cs.min, cs.max)
          cand.nonEmpty && (readSidecar(fs, table, e.path) match {
            // exact sidecar decision (r11): no bloom false positives,
            // so a non-holding file is never needlessly rewritten
            case Some(fh) => sortedIntersects(fh, cand)
            case None =>
              fileBlooms(fs, new Path(s"$table/${e.path}"), PkHashCol) match {
                case Some(bfs) =>
                  cand.exists(h => bfs.exists(bf => bf.findHash(bf.hash(h))))
                case None => true // no bloom: cannot be cleared
              }
          })
        }
      } else {
        val bounds = snap.files.zipWithIndex.map { case (e, i) =>
          val cs = e.stats.find(_.col == PkHashCol).get
          (i, cs.min, cs.max)
        }.toDF("__fi", "__lo", "__hi")
        val ranged = batch.select(xxhash64(col(pk)).as("__h")).distinct()
          .join(broadcast(bounds),
            col("__h") >= col("__lo") && col("__h") <= col("__hi"))
          .select("__fi").distinct().collect().map(_.getInt(0)).toSet
        val (rangeOverlap, rangeCarried) =
          snap.files.zipWithIndex.partition { case (_, i) => ranged(i) }
        if (rangeOverlap.isEmpty) (Nil, snap.files)
        else {
          // exact containment (null-safe through the hash column —
          // xxhash64(NULL) is the seed constant on both sides, so a
          // NULL pk still folds instead of duplicating)
          val holders = spark.read
            .parquet(rangeOverlap.map(f => s"$table/${f._1.path}"): _*)
            .select(col(PkHashCol), col("_metadata.file_name").as("__fn"))
            .join(batch.select(xxhash64(col(pk)).as(PkHashCol)).distinct(),
              Seq(PkHashCol), "left_semi")
            .select("__fn").distinct().collect().map(_.getString(0)).toSet
          val (h, c) = rangeOverlap.partition { case (e, _) =>
            holders(e.path.substring(e.path.lastIndexOf('/') + 1)) }
          (h.map(_._1), rangeCarried.map(_._1) ++ c.map(_._1))
        }
      }
    val holdRows =
      if (hold.isEmpty) None
      else Some(spark.read
        .parquet(hold.map(f => s"$table/${f.path}"): _*)
        .drop(PkHashCol))
    // append commits (no holder files) size their file count by the
    // batch, so a large append writes in parallel instead of through
    // one task; merge commits re-level the holder set — with the
    // batch's rows as a second term, so a bulk batch folding into a
    // FEW holder files doesn't funnel view-sized output through one
    // task into files too large to prune (holder rows ride the
    // manifest's RowsStat; pre-RowsStat files under-count, which only
    // costs file-count granularity)
    val outFiles =
      if (hold.isEmpty)
        math.max(1, math.min(32, hsRows.length / AppendRowsPerFile + 1))
      else {
        val heldRows = hold.iterator.flatMap(
          _.stats.find(_.col == RowsStat).map(_.min)).sum
        math.max(hold.size, math.min(32L,
          (hsRows.length.toLong + heldRows) / AppendRowsPerFile + 1).toInt)
      }
    Some(PrunedPlan(carried, holdRows, schemaOnly, outFiles, unique,
      batchEmpty = hsRows.isEmpty))
  }

  /** Target rows per data file for parallel append writes (locally
    * small rows; a cluster deployment would size by bytes). */
  private val AppendRowsPerFile = 65536

  /** First commit on a FRESH table: same probe as [[prunePlan]] minus
    * the files — a proven-pk-unique batch skips the dedupe window and
    * appends in parallel. None (→ the classic full path) past the
    * driver cap. */
  private def freshPlan(batch: DataFrame, pk: String): Option[PrunedPlan] = {
    import org.apache.spark.sql.functions.{col, xxhash64}
    val hsRows = batch.select(xxhash64(col(pk)).as("__h"))
      .limit(BloomProbeMaxKeys + 1).collect()
    if (hsRows.length > BloomProbeMaxKeys) return None
    val all = hsRows.map(_.getLong(0)).sorted
    val unique = all.distinct.length == all.length
    Some(PrunedPlan(Nil, None, batch.limit(0),
      math.max(1, math.min(32, hsRows.length / AppendRowsPerFile + 1)),
      unique, batchEmpty = hsRows.isEmpty))
  }

  /** Driver-side cap on the bloom-probe hash collect; a delta with
    * more distinct keys probes by the executor-side exact scan.
    * Test-only override via [[probeCapOverride]] so specs can drive a
    * small batch through the over-cap (bulk-ingest) code paths. */
  private val BloomProbeMaxKeysDefault = 2000000
  @volatile private[graft] var probeCapOverride: Option[Int] = None
  private def BloomProbeMaxKeys: Int =
    probeCapOverride.getOrElse(BloomProbeMaxKeysDefault)

  /** `publishGate` is awaited immediately before EVERY manifest
    * publish attempt (and nowhere else): all the expensive work —
    * staging writes, probes, merges — runs before the gate, so a
    * caller sequencing multiple tables (the IVM legs' "accumulators
    * first, mark-carrying wide table strictly last" contract) can
    * overlap the data-plane work across tables and serialize ONLY
    * the metadata publishes. A gate that throws aborts the commit
    * with its staged files dropped.
    *
    * `updateHeavy` is the caller's write-pattern declaration: an
    * update-heavy batch (most of its pks already live in the table —
    * SCD2 history re-merges, hot-key rollup combines) folds into a
    * holder rewrite regardless, so the stage-first path's eager
    * batch write would be immediately superseded; such commits take
    * the classic probe-then-merge path, which persists a heavy batch
    * once and merges from cache `[measured: dim_scd2_lookup_
    * incremental 6.8 → ~4 s, dim_agg_rollup_incremental 2.6 →
    * ~1.7 s at sf0.1]`. Insert-dominant batches (the default) take
    * stage-first: one execution, one write, appended by reference. */
  def commitUpsert(batch: DataFrame, table: String, pk: String,
                   versionCol: String, maxRetries: Int = 20,
                   statsCol: Option[String] = None,
                   clusterFiles: Int = 8,
                   props: Map[String, String] = Map.empty,
                   failOnDupPk: Boolean = false,
                   indexCols: Seq[String] = Nil,
                   publishGate: () => Unit = () => (),
                   updateHeavy: Boolean = false): Long = {
    val spark = batch.sparkSession
    require(!batch.columns.contains(PkHashCol),
      s"TxLog: column name $PkHashCol is reserved")
    val fs = fsOf(spark, table)
    def classic(): Long = commitClassic(batch, table, pk, versionCol,
      maxRetries, statsCol, clusterFiles, props, failOnDupPk, indexCols,
      publishGate)
    if (statsCol.isDefined || updateHeavy) return classic()
    val snap0 = latest(spark, table)
    // STAGE-FIRST eligibility mirrors the pruned-merge plan's:
    // unpartitioned files carrying pk-hash stats, no outstanding
    // deletion vectors — plus the batch's schema EXACTLY the table's
    // (stage-first writes final-form data files BEFORE the merge
    // decision, so schema evolution keeps its full-rewrite path).
    val eligible = snap0.forall(s => s.dvs.isEmpty && s.files.nonEmpty &&
      s.files.forall(e => e.part.isEmpty && e.stats.exists(_.col == PkHashCol)))
    if (!eligible) return classic()
    val schemaOk = snap0.forall { s =>
      try {
        val t = spark.read.parquet(s"$table/${s.files.head.path}").schema
        val tFields = t.fields.filterNot(_.name == PkHashCol)
          .map(f => f.name -> nullableNorm(f.dataType)).toMap
        val bFields = batch.schema.fields
          .map(f => f.name -> nullableNorm(f.dataType)).toMap
        tFields == bFields
      } catch { case _: Exception => false }
    }
    if (!schemaOk) return classic()
    commitStageFirst(batch, table, pk, versionCol, maxRetries, props,
      failOnDupPk, indexCols, snap0, fs, publishGate)
  }

  /** The stage-first commit: ONE execution of the batch pipeline.
    * The delta is written straight into final-form data files under
    * its natural partitioning (a scan-shaped delta stages without any
    * exchange; a shuffle-shaped one arrives AQE-coalesced), and every
    * later step — the holder probe, the uniqueness proof, the merge —
    * is driven from the STAGED files (driver footer/bloom reads and,
    * when files must be rewritten, a staged-file scan), never by
    * re-running the batch. An insert-only delta therefore costs one
    * Spark job plus metadata I/O; the classic path's
    * probe-then-stage double execution remains only for schema
    * evolution, statsCol clustering, and DV-carrying tables. */
  private def commitStageFirst(batch: DataFrame, table: String, pk: String,
                               versionCol: String, maxRetries: Int,
                               props: Map[String, String],
                               failOnDupPk: Boolean, indexCols: Seq[String],
                               snap0: Option[Snapshot],
                               fs: FileSystem,
                               publishGate: () => Unit = () => ()): Long = {
    import org.apache.spark.sql.functions.{broadcast, col, count, lit, xxhash64}
    val spark = batch.sparkSession
    import spark.implicits._
    val commitId = UUID.randomUUID().toString.take(8)
    val stagedWithRows = timed("stage+write")(stageData(fs, table, commitId,
      batch.withColumn(PkHashCol, xxhash64(col(pk))), PkHashCol +: indexCols,
      keepAnchor = false, bloomCols = indexCols))
    val totalRows = stagedWithRows.map(_._2).sum
    val entries = stagedWithRows.map(_._1)
    def dropStaged(): Unit = entries.foreach(e =>
      dropDataFile(fs, table, e.path))
    // empty batch: a no-op on an existing table, a metadata-only
    // commit when there are props to publish (IVM high-water marks),
    // and — the rare fresh-table-with-props case — the classic path
    // (which writes the schema anchor the props need to live on)
    if (totalRows == 0L) {
      if (snap0.isEmpty) {
        if (props.isEmpty) return 0L
        return commitClassic(batch, table, pk, versionCol, maxRetries,
          None, 8, props, failOnDupPk, indexCols, publishGate)
      }
      var attempt = 0
      while (true) {
        attempt += 1
        val cur = latest(spark, table).get
        if (!props.exists { case (k, v) => !cur.props.get(k).contains(v) })
          return cur.version
        val target = cur.version + 1L
        publishGate()
        if (timed("tryCommit")(tryCommit(fs, table, target, cur.files,
            cur.dvs, cur.props ++ props))) {
          if (target % CheckpointInterval == 0) writeHint(fs, table, target)
          return target
        }
        if (attempt > maxRetries) sys.error(
          s"TxLog: gave up after $maxRetries conflicting commits on $table")
      }
    }
    // driver harvest of the staged pk hashes (bounded): uniqueness +
    // range/bloom probe inputs, with NO extra Spark job — reusing the
    // per-file hash arrays stageData read for the sidecars, so the
    // bounded path no longer re-reads the just-staged parquet at all
    val sortedHs: Option[Array[Long]] =
      if (totalRows > BloomProbeMaxKeys) None
      else try {
        val a = stagedWithRows.iterator.flatMap {
          case (_, _, Some(hs)) => hs.iterator
          case (e, _, None) =>
            readLongColumn(fs, new Path(s"$table/${e.path}"), PkHashCol)
        }.toArray
        java.util.Arrays.sort(a); Some(a)
      } catch { case e: Exception =>
        // fall back to the executor-side probe — but loudly: a broken
        // driver-local read silently costs an extra job per commit
        System.err.println(
          s"[txlog] driver hash harvest failed on $table, " +
          s"falling back to executor probe: $e")
        None
      }
    val uniqueByHarvest = sortedHs.exists { a =>
      var i = 1; var u = true
      while (i < a.length && u) { if (a(i) == a(i - 1)) u = false; i += 1 }
      u
    }
    lazy val stagedRead =
      spark.read.parquet(entries.map(e => s"$table/${e.path}"): _*)
    // pk-uniqueness beyond the harvest: `unique` gates the pure-append
    // commit, so it must be PROVEN true, never assumed. The harvest
    // proves it for free on bounded batches; past the cap (the
    // bulk-seed/backfill regime — exactly where a rewrite hurts most)
    // ONE exact delta-sized aggregate over the staged files proves it
    // instead. Without that proof an over-cap pk-unique insert-only
    // batch would silently take the merge branch and re-stage the
    // whole just-written delta: 2x write amplification on the 100 TB
    // bulk-ingest path. A duplicated harvest HASH may still be a
    // collision between distinct pks, so under failOnDupPk the same
    // exact aggregate adjudicates before aborting — and when it
    // passes, uniqueness is proven and the append path reopens.
    def exactNoDups(): Boolean = {
      val noDups = try timed("dupCheck")(
        stagedRead.groupBy(col(pk)).agg(count(lit(1)).as("__n"))
          .filter(col("__n") > 1).isEmpty)
      catch { case e: Throwable => dropStaged(); throw e }
      if (!noDups && failOnDupPk) {
        dropStaged()
        throw new IllegalArgumentException(
          s"requirement failed: TxLog.commitUpsert($table): values " +
            s"of pk '$pk' do not uniquely identify rows in this " +
            "batch — the upsert would fold distinct rows")
      }
      noDups
    }
    // contract enforcement is EAGER (a failOnDupPk violation must
    // abort even when the merge path would fold it); the opportunistic
    // over-cap proof is LAZY — when holder files exist the commit
    // merges regardless, so the proof would be a wasted delta scan.
    // Bounded batches with real duplicate hashes and no contract are
    // almost certainly intended last-wins folds: merge, no proof.
    val uniqueEager: Option[Boolean] =
      if (uniqueByHarvest) Some(true)
      else if (failOnDupPk) Some(exactNoDups())
      else if (sortedHs.isDefined) Some(false)
      else None
    lazy val unique: Boolean = uniqueEager.getOrElse(exactNoDups())
    val distinctHs = sortedHs.map(_.distinct)
    var attempt = 0
    var snap = snap0
    while (true) {
      attempt += 1
      val allProps = snap.map(_.props).getOrElse(Map.empty) ++ props
      val files = snap.map(_.files).getOrElse(Seq.empty)
      // holder probe over the EXISTING files, minus any batch
      // re-execution. Three stages, each free of false negatives:
      //  1. RANGE: driver-side slice of the sorted delta hashes
      //     against each file's manifest [min, max].
      //  2. BLOOM pre-filter (driver hashes only): a file whose bloom
      //     clears every in-range hash cannot hold a key. Blooms can
      //     only CLEAR, never convict — with a large candidate set a
      //     false positive is near-certain ((1-ε)^k → 0), so a bloom
      //     hit is a "maybe", and treating it as a holder would
      //     rewrite view-sized data for an insert-only delta.
      //  3. CONTAINMENT: one scan of the surviving files (semi-join
      //     against the delta hashes) decides EXACTLY which files
      //     hold a key. At warehouse file counts stages 1-2 clear
      //     almost everything and this scan is delta-proportional;
      //     locally it degrades to a read (never a rewrite) of the
      //     survivors.
      val (hold, carried) = {
        // per-file decision: 0 = cleared (cannot hold a batch key),
        // 1 = holder (proven), 2 = maybe (needs the containment scan).
        // Sidecar-indexed files (r11) decide EXACTLY on the driver —
        // a sorted merge of the file's hash column against the
        // in-range delta hashes — so the bloom probe and the executor
        // containScan job run only for files without a (valid)
        // sidecar. Order is preserved: both outputs filter `files`.
        val decision: Map[String, Int] = distinctHs match {
          case Some(hs) =>
            def inRange(lo: Long, hi: Long): Array[Long] = {
              var a = 0; var b = hs.length
              while (a < b) {
                val m = (a + b) >>> 1
                if (hs(m) < lo) a = m + 1 else b = m
              }
              var e = a
              while (e < hs.length && hs(e) <= hi) e += 1
              java.util.Arrays.copyOfRange(hs, a, e)
            }
            files.map { e =>
              val cs = e.stats.find(_.col == PkHashCol).get
              val cand = inRange(cs.min, cs.max)
              e.path -> {
                if (cand.isEmpty) 0
                else readSidecar(fs, table, e.path) match {
                  case Some(fh) =>
                    if (sortedIntersects(fh, cand)) 1 else 0
                  case None =>
                    fileBlooms(fs, new Path(s"$table/${e.path}"),
                        PkHashCol) match {
                      case Some(bfs) =>
                        if (cand.exists(h =>
                          bfs.exists(bf => bf.findHash(bf.hash(h))))) 2
                        else 0
                      case None => 2
                    }
                }
              }
            }.toMap
          case None =>
            if (files.isEmpty) Map.empty
            else {
              val bounds = files.zipWithIndex.map { case (e, i) =>
                val cs = e.stats.find(_.col == PkHashCol).get
                (i, cs.min, cs.max)
              }.toDF("__fi", "__lo", "__hi")
              val ranged = stagedRead.select(col(PkHashCol)).distinct()
                .join(broadcast(bounds),
                  col(PkHashCol) >= col("__lo") && col(PkHashCol) <= col("__hi"))
                .select("__fi").distinct().collect().map(_.getInt(0)).toSet
              files.zipWithIndex.map { case (e, i) =>
                e.path -> (if (ranged(i)) 2 else 0) }.toMap
            }
        }
        val maybeFiles = files.filter(e => decision(e.path) == 2)
        val scanHolders: Set[String] =
          if (maybeFiles.isEmpty) Set.empty
          else {
            // the driver-harvested hash set broadcasts (≤16 MB of
            // longs); the uncapped executor-side probe lets Catalyst
            // pick the join strategy
            val probe = distinctHs match {
              case Some(hs) =>
                broadcast(spark.createDataset(hs.toSeq).toDF(PkHashCol))
              case None => stagedRead.select(col(PkHashCol)).distinct()
            }
            timed("containScan")(spark.read
              .parquet(maybeFiles.map(f => s"$table/${f.path}"): _*)
              .select(col(PkHashCol), col("_metadata.file_name").as("__fn"))
              .join(probe, Seq(PkHashCol), "left_semi")
              .select("__fn").distinct().collect().map(_.getString(0)).toSet)
          }
        files.partition { e =>
          decision(e.path) == 1 || (decision(e.path) == 2 &&
            scanHolders(e.path.substring(e.path.lastIndexOf('/') + 1)))
        }
      }
      val target = snap.map(_.version).getOrElse(0L) + 1L
      if (hold.isEmpty && unique) {
        // pure append of a proven-pk-unique batch: the staged files
        // ARE the commit
        try publishGate()
        catch { case e: Throwable => dropStaged(); throw e }
        if (timed("tryCommit")(tryCommit(fs, table, target,
            carried ++ entries, Nil, allProps))) {
          if (target % CheckpointInterval == 0) writeHint(fs, table, target)
          return target
        }
      } else {
        // merge: fold the staged delta with the holder files' rows
        // (last-wins by versionCol), re-cluster on the pk hash, swap
        // the holder files for the merged ones
        val delta = stagedRead.drop(PkHashCol)
        val holdRows =
          if (hold.isEmpty) delta.limit(0)
          else spark.read.parquet(hold.map(f => s"$table/${f.path}"): _*)
            .drop(PkHashCol)
        val merged = mergeEvolved(delta, Some(holdRows), pk, versionCol)
        val stamped = merged.withColumn(PkHashCol, xxhash64(col(pk)))
        // size the merged write by ROWS as well as by holder count:
        // inheriting hold.size alone funnels a no-holder (or few-
        // holder) view-sized merge — the duplicate-carrying bulk-seed
        // regime — through repartition(1): one task rewriting
        // everything into one giant file whose [min,max] then spans
        // the whole key space, defeating later range/bloom pruning.
        // Holder count stays the floor so steady-state small merges
        // keep the table's file-count level. Holder rows ride the
        // manifest (RowsStat), so the sizing is metadata-only;
        // pre-RowsStat files just under-count (fewer, larger files).
        val heldRows = hold.flatMap(
          _.stats.find(_.col == RowsStat).map(_.min)).sum
        val outFiles = math.max(math.max(1, hold.size), math.min(32L,
          (totalRows + heldRows) / AppendRowsPerFile + 1).toInt)
        val mergeId = UUID.randomUUID().toString.take(8)
        val staged2 = (if (outFiles <= 1)
            timed("merge+write")(stageData(fs, table, mergeId,
              stamped.repartition(1), PkHashCol +: indexCols,
              keepAnchor = false, bloomCols = indexCols))
          else {
            val cached = stamped.persist(
              org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try timed("merge+write")(stageData(fs, table, mergeId,
              cached.repartitionByRange(outFiles, col(PkHashCol)),
              PkHashCol +: indexCols, keepAnchor = false,
              bloomCols = indexCols))
            finally { cached.unpersist(false); () }
          }).map(_._1)
        try publishGate()
        catch { case e: Throwable =>
          staged2.foreach(e2 => dropDataFile(fs, table, e2.path))
          dropStaged(); throw e }
        if (timed("tryCommit")(tryCommit(fs, table, target,
            carried ++ staged2, Nil, allProps))) {
          if (target % CheckpointInterval == 0) writeHint(fs, table, target)
          dropStaged() // first-stage files were folded into staged2
          return target
        }
        staged2.foreach(e => dropDataFile(fs, table, e.path))
      }
      // lost the commit race: refresh the snapshot and re-probe (the
      // staged delta files stay valid — they're invisible until a
      // manifest references them)
      snap = latest(spark, table)
      if (!snap.forall(s => s.dvs.isEmpty &&
          s.files.forall(e => e.part.isEmpty &&
            e.stats.exists(_.col == PkHashCol)))) {
        // a concurrent writer invalidated stage-first eligibility
        dropStaged()
        return commitClassic(batch, table, pk, versionCol, maxRetries,
          None, 8, props, failOnDupPk, indexCols, publishGate)
      }
      if (attempt > maxRetries) {
        dropStaged()
        sys.error(s"TxLog: gave up after $maxRetries conflicting commits on $table")
      }
    }
    -1L // unreachable
  }

  private def commitClassic(batch: DataFrame, table: String, pk: String,
                   versionCol: String, maxRetries: Int = 20,
                   statsCol: Option[String] = None,
                   clusterFiles: Int = 8,
                   props: Map[String, String] = Map.empty,
                   failOnDupPk: Boolean = false,
                   indexCols: Seq[String] = Nil,
                   publishGate: () => Unit = () => ()): Long = {
    import org.apache.spark.sql.functions.{col, count, lit, xxhash64}
    val spark = batch.sparkSession
    require(!batch.columns.contains(PkHashCol),
      s"TxLog: column name $PkHashCol is reserved")
    val fs = fsOf(spark, table)
    // the batch plan is executed by the prune probe AND the merge —
    // cache it across them when it is itself expensive (a join/agg/
    // window pipeline); a plain scan re-runs cheaper than it caches
    val heavyBatch = batch.queryExecution.analyzed.find {
      case _: org.apache.spark.sql.catalyst.plans.logical.Join => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Window => true
      case _ => false
    }.isDefined
    if (heavyBatch)
      batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    var attempt = 0
    var dupChecked = false
    while (true) {
      attempt += 1
      val snap = timed("latest")(latest(spark, table))
      val allProps = snap.map(_.props).getOrElse(Map.empty) ++ props
      val commitId = UUID.randomUUID().toString.take(8)
      // PRUNED MERGE (the default, statsCol-less path): merge the
      // batch with ONLY the files whose pk-hash range can hold a batch
      // key; every other FileEntry is carried into the new manifest by
      // reference — commit cost O(delta + overlapping files), never
      // O(table). `statsCol` commits keep the legacy full rewrite
      // (their files cluster on statsCol, not the pk hash).
      val plan = if (statsCol.isDefined) None
                 else timed("prunePlan")(snap match {
                   case Some(s) => prunePlan(spark, s, table, batch, pk)
                   case None => freshPlan(batch, pk)
                 })
      // EMPTY-BATCH fast path (the probe already executed the batch,
      // so emptiness is known for free): an empty upsert on an
      // existing table is a no-op — same file set, same data — so
      // skip the staging write job entirely. With `props` to publish
      // (e.g. an IVM high-water mark) it becomes a METADATA-ONLY
      // commit carrying every file by reference; without, the current
      // version is simply returned. Callers therefore never need a
      // separate `isEmpty` pre-check job before committing. A lost
      // commit race falls through to the retry guard and loops back
      // for a fresh snapshot.
      val emptyFast = plan.exists(_.batchEmpty) &&
        (snap.isDefined || props.isEmpty)
      if (emptyFast) {
        // empty batch on a NEVER-written table with no props to
        // publish: don't even create the table (version 0 = absent)
        if (snap.isEmpty) return 0L
        val cur = snap.get
        val newProps = props.exists { case (k, v) =>
          !cur.props.get(k).contains(v) }
        if (!newProps) return cur.version
        val target = cur.version + 1L
        publishGate()
        if (timed("tryCommit")(
            tryCommit(fs, table, target, plan.get.carried, Nil, allProps))) {
          if (target % CheckpointInterval == 0) writeHint(fs, table, target)
          return target
        }
      } else {
      // `failOnDupPk` enforces a caller-declared within-batch pk
      // uniqueness CONTRACT (last-wins folding would otherwise
      // silently merge distinct rows — the JoinIndex failure mode).
      // The prune probe already collected the batch's pk hashes, so
      // the common case costs NOTHING extra: hash-unique implies
      // pk-unique. Only an unproven batch (hash collision, >cap
      // delta, statsCol path) pays one exact delta-sized aggregate.
      // Checked once — uniqueness is a batch property, not a snapshot
      // property, so commit-race retries never re-pay it.
      if (failOnDupPk && !dupChecked) {
        if (!plan.exists(_.batchUnique)) timed("dupCheck")(require(
          batch.groupBy(col(pk)).agg(count(lit(1)).as("__n"))
            .filter(col("__n") > 1).isEmpty,
          s"TxLog.commitUpsert($table): values of pk '$pk' do not " +
            "uniquely identify rows in this batch — the upsert would " +
            "fold distinct rows"))
        dupChecked = true
      }
      // single-file writes need no boundaries — and for >1 files,
      // `repartitionByRange` executes its child TWICE (a sampling job
      // for the boundaries, then the exchange), so persist the merged
      // frame across the pair (measured 1.7x on the delta-join bench
      // before the cache)
      // no pk-hash sidecars on the clustered (merge/rewrite) stage:
      // these outputs are view-sized on the update-heavy path, so the
      // per-file driver hash read would tax every commit for an index
      // whose probe decision on such tables is "holder" anyway
      // (measured: dim_agg_rollup_incremental 2.5 → 3.1 s with
      // sidecars generated here). Files without a sidecar degrade to
      // the bloom + containScan probe — the pre-r11 behavior.
      def stageClustered(merged: DataFrame, outFiles: Int, cluster: String,
                         stats: Seq[String],
                         keepAnchor: Boolean): Seq[FileEntry] =
        if (outFiles <= 1)
          timed("stage+write")(stageData(fs, table, commitId,
            merged.repartition(1), stats, keepAnchor, indexCols,
            sidecars = false)).map(_._1)
        else {
          val cached = merged.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try timed("stage+write")(stageData(fs, table, commitId,
            cached.repartitionByRange(outFiles, col(cluster)), stats,
            keepAnchor, indexCols, sidecars = false)).map(_._1)
          finally { cached.unpersist(false); () }
        }
      val (carried, staged) = plan match {
        case Some(PrunedPlan(carr, holdRows, schemaOnly, outFiles, uniq, _)) =>
          val merged = holdRows match {
            // pure append of a proven-pk-unique batch: the merge IS
            // the batch (conformed to the table's columns) — no
            // dedupe window, no extra exchange
            case None if uniq =>
              conformForEvolution(schemaOnly, batch)._2
            case other =>
              mergeEvolved(batch, other.orElse(Some(schemaOnly)),
                pk, versionCol)
          }
          val stamped = merged.withColumn(PkHashCol, xxhash64(col(pk)))
          val entries =
            if (holdRows.isEmpty && uniq && outFiles > 1)
              // parallel append: round-robin exchange, no boundary
              // sampling, no persist — the files' hash ranges are
              // wide but their BLOOMS stay exact, which is what the
              // prune probe keys on
              timed("stage+write")(stageData(fs, table, commitId,
                stamped.repartition(outFiles), PkHashCol +: indexCols,
                keepAnchor = carr.isEmpty, bloomCols = indexCols)).map(_._1)
            else stageClustered(stamped, outFiles, PkHashCol,
              PkHashCol +: indexCols, keepAnchor = carr.isEmpty)
          (carr, entries)
        case None =>
          val existing = snap.flatMap(s => readVersion(spark, table, s.version))
          val merged = mergeEvolved(batch, existing, pk, versionCol)
          val staged = statsCol match {
            case Some(sc) => stageClustered(merged, clusterFiles, sc,
              Seq(sc), keepAnchor = true)
            // full rewrites still range-cluster on the pk hash and
            // carry its per-file range, so the NEXT commit can prune
            case None => stageClustered(
              merged.withColumn(PkHashCol, xxhash64(col(pk))),
              clusterFiles, PkHashCol, PkHashCol +: indexCols,
              keepAnchor = true)
          }
          (Nil, staged)
      }
      val target = snap.map(_.version).getOrElse(0L) + 1L
      try publishGate()
      catch { case e: Throwable =>
        staged.foreach(f => dropDataFile(fs, table, f.path))
        throw e }
      if (timed("tryCommit")(
          tryCommit(fs, table, target, carried ++ staged, Nil, allProps))) {
        if (target % CheckpointInterval == 0) writeHint(fs, table, target)
        return target
      }
      // lost the race: our files are unreferenced (invisible to every
      // reader) — drop them and retry against the new snapshot
      staged.foreach(f => dropDataFile(fs, table, f.path))
      }
      if (attempt > maxRetries)
        sys.error(s"TxLog: gave up after $maxRetries conflicting commits on $table")
    }
    -1L // unreachable
    } finally { if (heavyBatch) { batch.unpersist(false); () } }
  }

  /** Partitioned variant: stage with Hive-style `partitionBy(partCol)`
    * (one write job; the column is carried in the MANIFEST per file,
    * like Hive/Delta partition dirs), commit the per-partition file
    * list, and let `readPruned` skip non-matching files at the
    * manifest level — partition pruning without opening a footer. The
    * partition column must be string-typed; cardinality is bounded by
    * the usual Hive-partitioning contract.
    *
    * `statsCol` composes with partitioning the way Delta composes
    * partition dirs with file stats: the write range-clusters on
    * (partCol, statsCol) so each partition's files carry narrow
    * footer ranges, and `readRange` prunes WITHIN the partitions a
    * `readPruned` predicate keeps. */
  def commitUpsertPartitioned(batch: DataFrame, table: String, pk: String,
                              versionCol: String, partCol: String,
                              maxRetries: Int = 20,
                              statsCol: Option[String] = None,
                              clusterFiles: Int = 8,
                              props: Map[String, String] = Map.empty): Long = {
    val spark = batch.sparkSession
    val fs = fsOf(spark, table)
    var attempt = 0
    while (true) {
      attempt += 1
      val snap = latest(spark, table)
      val existing = snap.flatMap(s => readVersion(spark, table, s.version))
      val merged = mergeEvolved(batch, existing, pk, versionCol)
      val commitId = UUID.randomUUID().toString.take(8)
      val tmp = new Path(s"$table/.staged-$commitId")
      val toWrite = statsCol match {
        case Some(sc) => merged.repartitionByRange(clusterFiles,
          org.apache.spark.sql.functions.col(partCol),
          org.apache.spark.sql.functions.col(sc))
        case None => merged
      }
      toWrite.write.mode("overwrite").partitionBy(partCol).parquet(tmp.toString)
      val dataDir = new Path(s"$table/$DataDir")
      fs.mkdirs(dataDir)
      val staged = fs.listStatus(tmp).toSeq
        .filter(_.getPath.getName.startsWith(s"$partCol="))
        .zipWithIndex.flatMap { case (dir, idx) =>
          // Hive-style dir names percent-escape specials but leave '+'
          // literal; URLDecoder would turn that '+' into a space, so
          // shield it before decoding. The value goes ONLY into the
          // manifest (file names use a partition index — a value
          // containing '/' must not become a path segment), and the
          // manifest line format forbids its two separator chars.
          val value = java.net.URLDecoder.decode(
            dir.getPath.getName.stripPrefix(s"$partCol=")
              .replace("+", "%2B"), "UTF-8")
          require(!value.contains('\u0001') && !value.contains('\n') &&
            !value.contains('\r'),  // linesIterator splits on \r too
            s"TxLog: partition value contains a manifest separator: '$value'")
          fs.listStatus(dir.getPath)
            .filter(_.getPath.getName.startsWith("part-"))
            .map { st =>
              val stats = statsCol.flatMap(sc =>
                footerStats(fs, st.getPath, sc)._2.map {
                  case (mn, mx) => ColStats(sc, mn, mx) }).toSeq
              val name = s"c$commitId-p$idx-${st.getPath.getName}"
              if (!fs.rename(st.getPath, new Path(dataDir, name)))
                sys.error(s"TxLog: failed to stage ${st.getPath}")
              FileEntry(s"$DataDir/$name", Some((partCol, value)), stats)
            }
        }
      fs.delete(tmp, true)
      val target = snap.map(_.version).getOrElse(0L) + 1L
      if (tryCommit(fs, table, target, staged, Nil,
          snap.map(_.props).getOrElse(Map.empty) ++ props)) {
        if (target % CheckpointInterval == 0) writeHint(fs, table, target)
        return target
      }
      staged.foreach(f => fs.delete(new Path(s"$table/${f.path}"), false))
      if (attempt > maxRetries)
        sys.error(s"TxLog: gave up after $maxRetries conflicting commits on $table")
    }
    -1L // unreachable
  }

  /** Atomic create-if-absent publish of one fully-written manifest.
    * The body is staged to a temp file first so no reader can observe a
    * half-written manifest; the publish step is then a single
    * filesystem metadata operation that fails (never overwrites) when
    * the version already exists:
    *  - local FS: a POSIX hard link (`link(2)` is atomic, EEXIST loses)
    *    — `create(overwrite=false)` and `rename` on the local FS are
    *    check-then-act and can drop a racing commit;
    *  - HDFS-semantics stores: `rename` (atomic in the namenode,
    *    refuses an existing destination). S3-class stores need a CAS
    *    service, as Delta documents. */
  private def tryCommit(fs: FileSystem, table: String, version: Long,
                        files: Seq[FileEntry],
                        dvs: Seq[String] = Nil,
                        props: Map[String, String] = Map.empty): Boolean = {
    val target = manifestPath(table, version)
    fs.mkdirs(target.getParent)
    val tmp = new Path(target.getParent,
      s".tmp-${UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    // publish-time stamp for readAsOf: taken at body write, which is
    // immediately before the publish attempt (an OCC loser rebuilds
    // and restamps), so stamp order tracks version order to clock
    // granularity; a carried-forward prior stamp is overridden here so
    // each version records its own publish time
    val stamped =
      props.updated(PublishTsProp, System.currentTimeMillis().toString)
    try {
      def statsSuffix(st: Seq[ColStats]): Seq[String] =
        st.flatMap(cs => Seq(cs.col, cs.min.toString, cs.max.toString))
      stamped.foreach { case (k, v) =>
        require(Seq(k, v).forall(x => !x.contains('\u0001') &&
          !x.contains('\n') && !x.contains('\r')),
          s"TxLog: prop '$k' contains a manifest separator") }
      val body = (s"version=$version" +: (files.map {
        case FileEntry(p, None, st) =>
          ((("file=" + p) +: statsSuffix(st))).mkString("\u0001")
        case FileEntry(p, Some((c, v)), st) =>
          (Seq("pfile=" + c, v, p) ++ statsSuffix(st)).mkString("\u0001")
      } ++ dvs.map("dv=" + _)
        ++ stamped.toSeq.sortBy(_._1).map { case (k, v) =>
          s"prop=$k\u0001$v" })).mkString("", "\n", "\n")
      out.write(body.getBytes(StandardCharsets.UTF_8))
    } finally out.close()
    val published =
      if (fs.getUri.getScheme == "file") {
        def nio(p: Path) = java.nio.file.Paths.get(p.toUri.getPath)
        try { java.nio.file.Files.createLink(nio(target), nio(tmp)); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else {
        try fs.rename(tmp, target)
        catch { case _: FileAlreadyExistsException => false }
      }
    fs.delete(tmp, false)
    published
  }

  /** Copy-on-write DELETE as an OCC commit (the Delta paper's DELETE;
    * the GDPR / right-to-be-forgotten operation a training-data store
    * must support): rows where `predicate` is TRUE are removed — rows
    * where it is NULL are kept, standard SQL DELETE semantics. Files
    * the caller's `candidate` filter rules out are carried forward BY
    * REFERENCE — zero I/O — so composing with manifest metadata makes
    * partition- or range-scoped deletes rewrite only the files that
    * can hold matching rows (e.g.
    * `candidate = _.part.forall(_._2 == "2024-01-01")` for a partition
    * delete, or a stats-range check for an id-scoped one); the default
    * rewrites every file. Correctness never depends on `candidate`
    * precision beyond its contract: a file it keeps is kept whole, so
    * it must only exclude files that hold NO matching row.
    *
    * Concurrency: same OCC loop as every writer — losing the version
    * race re-reads the new snapshot and re-applies the delete, so a
    * racing upsert's rows survive (and are themselves deleted if they
    * match, exactly the serial-replay semantics). Returns the
    * committed version, unchanged `snap.version` when no file was a
    * candidate, or None for an empty/absent table. */
  def commitDelete(spark: SparkSession, table: String,
                   predicate: org.apache.spark.sql.Column,
                   candidate: FileEntry => Boolean = _ => true,
                   maxRetries: Int = 20): Option[Long] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    val fs = fsOf(spark, table)
    var attempt = 0
    while (true) {
      attempt += 1
      val snap = latest(spark, table) match {
        case None => return None
        case Some(s) => s
      }
      val (cands, untouched) = snap.files.partition(candidate)
      if (cands.isEmpty) return Some(snap.version)
      val commitId = UUID.randomUUID().toString.take(8)
      val dataDir = new Path(s"$table/$DataDir")
      fs.mkdirs(dataDir)
      // rewrite candidates per manifest partition group: the partition
      // column is virtual (manifest-only), so it is restored as a
      // literal for the predicate and dropped again before the write
      // merge-on-read DVs mask rows of these very files: apply them
      // BEFORE the rewrite, or positions a DV deleted would resurrect
      // in the copy-on-write output
      val dvMask =
        if (snap.dvs.isEmpty) None
        else Some(spark.read
          .parquet(snap.dvs.map(d => s"$table/$d"): _*)
          .select(col("file_name").as("__dv_fn"),
            col("row_index").as("__dv_ri")))
      val staged = cands.groupBy(_.part).toSeq.zipWithIndex.flatMap {
        case ((part, es), gidx) =>
          val raw0 = spark.read.parquet(es.map(e => s"$table/${e.path}"): _*)
          val raw = dvMask match {
            case None => raw0
            case Some(dv) => raw0
              .withColumn("__dv_fn", col("_metadata.file_name"))
              .withColumn("__dv_ri", col("_metadata.row_index"))
              .join(dv, Seq("__dv_fn", "__dv_ri"), "left_anti")
              .drop("__dv_fn", "__dv_ri")
          }
          val restored = part match {
            case None => raw
            case Some((c, v)) => raw.withColumn(c,
              if (v == HiveNullPart) lit(null).cast("string") else lit(v))
          }
          val kept = restored
            .filter(not(coalesce(predicate, lit(false))))
          val toWrite = part match {
            case None => kept
            case Some((c, _)) => kept.drop(c)
          }
          val statsCols = es.flatMap(_.stats.map(_.col)).distinct
          val tmp = new Path(s"$table/.staged-$commitId-g$gidx")
          toWrite.write.mode("overwrite").parquet(tmp.toString)
          val parts = fs.listStatus(tmp)
            .filter(_.getPath.getName.startsWith("part-")).toSeq
            .map(st => (st, footerStatsMulti(fs, st.getPath, statsCols)))
          // empty range partitions vanish; a group whose every row was
          // deleted legitimately stages nothing
          val withRows = parts.filter { case (_, (rows, _)) => rows > 0L }
          parts.diff(withRows).foreach { case (st, _) =>
            fs.delete(st.getPath, false) }
          val entries = withRows.map { case (st, (_, stats)) =>
            val name = s"c$commitId-g$gidx-${st.getPath.getName}"
            if (!fs.rename(st.getPath, new Path(dataDir, name)))
              sys.error(s"TxLog: failed to stage ${st.getPath}")
            FileEntry(s"$DataDir/$name", part, stats)
          }
          fs.delete(tmp, true)
          entries
      }
      // deleting every row of a previously non-empty table: anchor the
      // schema with one empty file, same policy as the empty upsert.
      // A partitioned entry's STORED schema excludes the manifest-only
      // partition column — restore it (string, matching the read path)
      // so the surviving empty table keeps the full logical schema.
      val files =
        if (untouched.nonEmpty || staged.nonEmpty) untouched ++ staged
        else {
          val src0 = spark.read.parquet(s"$table/${cands.head.path}")
          val src = cands.head.part match {
            case None => src0
            case Some((c, _)) => src0.withColumn(c, lit(null).cast("string"))
          }
          val tmp = new Path(s"$table/.staged-$commitId-anchor")
          src.limit(0).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val st = fs.listStatus(tmp)
            .filter(_.getPath.getName.startsWith("part-")).head
          val name = s"c$commitId-anchor-${st.getPath.getName}"
          if (!fs.rename(st.getPath, new Path(dataDir, name)))
            sys.error(s"TxLog: failed to stage ${st.getPath}")
          fs.delete(tmp, true)
          Seq(FileEntry(s"$DataDir/$name", None))
        }
      val target = snap.version + 1L
      // DVs are carried forward for the untouched files they still
      // mask (entries naming rewritten files go stale-harmless); with
      // nothing untouched every DV row is stale — drop the list
      val carriedDvs = if (untouched.nonEmpty) snap.dvs else Nil
      if (tryCommit(fs, table, target, files, carriedDvs, snap.props)) {
        if (target % CheckpointInterval == 0) writeHint(fs, table, target)
        return Some(target)
      }
      // lost the race: drop every file this attempt created (staged
      // rewrites and the schema anchor alike) and retry
      files.diff(untouched).foreach(f =>
        fs.delete(new Path(s"$table/${f.path}"), false))
      if (attempt > maxRetries)
        sys.error(s"TxLog: gave up after $maxRetries conflicting commits on $table")
    }
    None // unreachable
  }

  /** Change feed between two committed versions — the Delta CDF
    * analog for a pk-keyed table, computed by SNAPSHOT DIFF (no
    * per-commit row journal: both versions are already first-class
    * reads, so the delta is one full-outer join on the key — O(the
    * two snapshots), the right trade for a store whose commits are
    * full-manifest anyway; per-commit change journals are the
    * documented alternative when consumers poll every version).
    * Emits one row per changed key with `_change_type` ∈ insert /
    * delete / update_preimage / update_postimage (Delta's vocabulary)
    * — update rows compare the FULL row payload, so an upsert that
    * rewrote a key with identical values is correctly absent. */
  def readChanges(spark: SparkSession, table: String, pk: String,
                  fromVersion: Long, toVersion: Long): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, md5, concat_ws, struct}
    val a0 = readVersion(spark, table, fromVersion).getOrElse(return None)
    val b0 = readVersion(spark, table, toVersion).getOrElse(return None)
    // the feed spans schema evolution: diff over the column UNION
    // (pre-evolution rows take typed NULLs), so an update that only
    // touches an evolved column is still a detected change
    val (a, b) = conformForEvolution(a0, b0)
    val cols = a.columns.toSeq
    require(cols.contains(pk), s"pk $pk missing")
    def keyed(df: DataFrame, side: String) =
      df.select(col(pk).as(s"__k_$side"),
        // NULL-sentinel each column before hashing: concat_ws SKIPS
        // nulls, so a NULL<->value change could otherwise collide
        // with a shifted concatenation and go undetected
        md5(concat_ws("",
          cols.map(c => coalesce(col(c).cast("string"),
            lit("\u0002NULL\u0002"))): _*)).as(s"__h_$side"),
        struct(cols.map(col): _*).as(s"__r_$side"))
    val joined = keyed(a, "a").join(keyed(b, "b"),
      col("__k_a") === col("__k_b"), "full_outer")
    val inserts = joined.filter(col("__k_a").isNull)
      .select(col("__r_b.*")).withColumn("_change_type", lit("insert"))
    val deletes = joined.filter(col("__k_b").isNull)
      .select(col("__r_a.*")).withColumn("_change_type", lit("delete"))
    val updated = joined
      .filter(col("__k_a").isNotNull && col("__k_b").isNotNull &&
        col("__h_a") =!= col("__h_b"))
    val pre = updated.select(col("__r_a.*"))
      .withColumn("_change_type", lit("update_preimage"))
    val post = updated.select(col("__r_b.*"))
      .withColumn("_change_type", lit("update_postimage"))
    Some(inserts.unionByName(deletes).unionByName(pre).unionByName(post))
  }

  /** Merge-on-read DELETE via DELETION VECTORS — the Delta DV
    * evolution of `commitDelete`: instead of rewriting candidate
    * files, ONE sidecar parquet of (file_name, row_index) masks the
    * matching positions, and every data file is carried forward BY
    * REFERENCE. A delete touching 0.1% of a 100 TB table writes
    * kilobytes instead of re-copying terabytes; the read-side cost is
    * one anti-join against the (deleted-row-count-sized) DV union.
    * Rewriting commits materialize: `optimize` / `commitUpsert*` fold
    * the masks into fresh files and drop the DV list, which is also
    * the hard-delete path (DV-deleted bytes persist in the original
    * files until a rewrite + `expireVersions` + `vacuumOrphans`, the
    * same retention caveat as copy-on-write).
    *
    * Row identity: parquet row order in an immutable file is stable,
    * so (file_name, `_metadata.row_index`) names a physical row for
    * the file's whole life — the same contract Delta DVs rely on.
    * `candidate` scopes which files are even scanned for matches
    * (same contract as `commitDelete`); existing DVs are applied
    * before matching so already-deleted rows don't re-enter a vector.
    * Same OCC loop as every writer. Returns the committed version,
    * `snap.version` unchanged when nothing matched, None for an
    * empty/absent table. */
  def commitDeleteMor(spark: SparkSession, table: String,
                      predicate: org.apache.spark.sql.Column,
                      candidate: FileEntry => Boolean = _ => true,
                      maxRetries: Int = 20): Option[Long] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val fs = fsOf(spark, table)
    var attempt = 0
    while (true) {
      attempt += 1
      val snap = latest(spark, table) match {
        case None => return None
        case Some(s) => s
      }
      val cands = snap.files.filter(candidate)
      if (cands.isEmpty) return Some(snap.version)
      val oldDv =
        if (snap.dvs.isEmpty) None
        else Some(spark.read
          .parquet(snap.dvs.map(d => s"$table/$d"): _*)
          .select(col("file_name").as("__dv_fn"),
            col("row_index").as("__dv_ri")))
      // matching LIVE positions per candidate group (partition column
      // restored as a literal for the predicate, like commitDelete)
      val newDvRows = cands.groupBy(_.part).map { case (part, es) =>
        val raw0 = spark.read.parquet(es.map(e => s"$table/${e.path}"): _*)
          .withColumn("__dv_fn", col("_metadata.file_name"))
          .withColumn("__dv_ri", col("_metadata.row_index"))
        val raw = oldDv match {
          case None => raw0
          case Some(dv) => raw0.join(dv, Seq("__dv_fn", "__dv_ri"), "left_anti")
        }
        val restored = part match {
          case None => raw
          case Some((c, v)) => raw.withColumn(c,
            if (v == HiveNullPart) lit(null).cast("string") else lit(v))
        }
        restored.filter(coalesce(predicate, lit(false)))
          .select(col("__dv_fn").as("file_name"),
            col("__dv_ri").as("row_index"))
      }.reduce(_.unionByName(_))
      val commitId = UUID.randomUUID().toString.take(8)
      val tmp = new Path(s"$table/.staged-$commitId-dv")
      newDvRows.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = fs.listStatus(tmp)
        .filter(_.getPath.getName.startsWith("part-")).head
      val (rows, _) = footerStatsMulti(fs, part.getPath, Nil)
      if (rows == 0L) { fs.delete(tmp, true); return Some(snap.version) }
      val dataDir = new Path(s"$table/$DataDir")
      fs.mkdirs(dataDir)
      val name = s"c$commitId-dv-${part.getPath.getName}"
      if (!fs.rename(part.getPath, new Path(dataDir, name)))
        sys.error(s"TxLog: failed to stage ${part.getPath}")
      fs.delete(tmp, true)
      val dvPath = s"$DataDir/$name"
      val target = snap.version + 1L
      if (tryCommit(fs, table, target, snap.files, snap.dvs :+ dvPath,
          snap.props)) {
        if (target % CheckpointInterval == 0) writeHint(fs, table, target)
        return Some(target)
      }
      fs.delete(new Path(s"$table/$dvPath"), false)
      if (attempt > maxRetries)
        sys.error(s"TxLog: gave up after $maxRetries conflicting commits on $table")
    }
    None // unreachable
  }

  /** Morton (Z-order) key over `cols`: each column is quantile-bucketed
    * into `2^bits` ranks — boundaries from one driver-bounded
    * `approxQuantile` pass, so skewed columns still spread evenly, the
    * property equal-width bucketing loses — and the rank bits are
    * interleaved. Range-partitioning on the key then clusters ALL the
    * columns at once, so every file carries a narrow min/max on EVERY
    * z-order column (the Delta paper's OPTIMIZE ZORDER BY). File-level
    * skipping needs only as many distinct cells as files, so small
    * `bits` (default 6 → 64 ranks/column) is enough at any scale; the
    * 2^bits-element boundary array is a broadcast literal and the
    * per-row bucket probe stays inside codegen. NULL ranks as 0. */
  private[graft] def zorderKey(df: DataFrame, cols: Seq[String],
                               bits: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    require(cols.nonEmpty && bits >= 1 && bits * cols.length <= 62,
      s"z-order needs 1..${62 / math.max(1, cols.length)} bits for ${cols.length} cols")
    val n = 1 << bits
    val qs = (1 until n).map(_.toDouble / n).toArray
    cols.foreach { c =>
      // a non-numeric column would cast to all-NULL and silently
      // cluster nothing — fail loudly instead (timestamp casts to
      // epoch seconds, so it ranks correctly)
      val dt = df.schema(c).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
        dt == org.apache.spark.sql.types.TimestampType,
        s"z-order column '$c' must be numeric or timestamp, got $dt")
    }
    // ONE driver quantile job for every z-order column (approxQuantile
    // takes the column list), not one job per column
    val allBnds = df.select(cols.map(c => col(c).cast("double").as(c)): _*)
      .stat.approxQuantile(cols.toArray, qs, 0.001)
    val rankExprs = cols.zip(allBnds).map { case (c, raw) =>
      val bnds = raw.distinct.sorted
      // rank = number of boundaries <= value (0..n-1); NULL compares
      // to null inside the lambda, filter drops it → rank 0
      size(filter(lit(bnds), b => b <= col(c).cast("double")))
    }
    rankExprs.zipWithIndex.map { case (rank, i) =>
      (0 until bits).map { j =>
        // cast to long BEFORE the shift: size() is IntegerType, and a
        // Java int shift masks the amount to 5 bits, so bit positions
        // >= 32 would silently wrap to (position mod 32)
        shiftleft(shiftright(rank, j).bitwiseAND(1).cast("long"),
          j * cols.length + i)
      }.reduce(_ + _)
    }.reduce(_ + _)
  }

  /** OPTIMIZE: rewrite the latest snapshot into (at most) `targetFiles`
    * data files WITHOUT changing its rows, as a normal OCC commit —
    * the Delta paper's compaction, plus multi-column Z-order clustering
    * when `zorderCols` is non-empty (each file's manifest then carries
    * footer min/max on every z-order column, so `readRange` skips on
    * any of them). Small-file debt from many incremental upserts is
    * the target: N tiny commits → one compacted snapshot.
    *
    * Partitioned tables: the rewrite FLATTENS manifest partitioning —
    * the partition column is restored into the data files (no rows
    * change) but the new entries carry no manifest partition value, so
    * `readPruned` stops skipping until the next
    * `commitUpsertPartitioned` re-partitions the layout. Compact a
    * partition-pruned table by following the optimize with one such
    * re-partitioning commit (an empty batch suffices).
    *
    * Concurrency: compaction races with upserts like any writer — if
    * an upsert wins the version, the compactor re-reads the NEW
    * snapshot (the upsert's rows are folded in) and retries, so no
    * concurrent write is ever lost. Returns the committed version, or
    * None for an empty/absent table.
    *
    * `pk` (zorderCols empty only): PRESERVE the pruned-merge layout —
    * re-cluster on `xxhash64(pk)` and carry per-file PkHashCol stats,
    * so the file-size re-leveling an incremental-upsert table needs
    * does NOT force the next upsert into a full rewrite. This is how
    * an IVM table compacts: small-file debt from many pruned commits
    * → one `optimize(pk = Some(key))` → pruned commits continue. */
  /** Opportunistic small-file-debt compaction for long-lived
    * incremental tables (the IVM accumulators grow by a few files per
    * commit forever without one): when the latest snapshot references
    * more than `maxFiles` data files AND a rows-sized rewrite would
    * actually reduce the count, run the pk-layout [[optimize]] to
    * `rows / AppendRowsPerFile` files (so pruned commits continue
    * afterwards). Self-gating: a table whose files are already
    * full-size has `target >= current` and is left alone — calling
    * this after every commit is safe and usually a no-op. Skips
    * DV-carrying snapshots (a rewrite would have to materialize the
    * masks; run a real optimize deliberately for that). Returns the
    * compaction commit's version, None when nothing was done. */
  def compactIfNeeded(spark: SparkSession, table: String, pk: String,
                      maxFiles: Int = 128): Option[Long] =
    latest(spark, table) match {
      case Some(s) if s.files.length > maxFiles && s.dvs.isEmpty =>
        val rows = s.files.iterator.flatMap(
          _.stats.find(_.col == RowsStat).map(_.min)).sum
        val target = math.max(1L, rows / AppendRowsPerFile + 1)
          .min(Int.MaxValue.toLong).toInt
        if (target < s.files.length)
          optimize(spark, table, targetFiles = target, pk = Some(pk))
        else None
      case _ => None
    }

  def optimize(spark: SparkSession, table: String,
               zorderCols: Seq[String] = Nil, targetFiles: Int = 8,
               bits: Int = 6, maxRetries: Int = 20,
               pk: Option[String] = None): Option[Long] = {
    import org.apache.spark.sql.functions.{col, xxhash64}
    require(pk.isEmpty || zorderCols.isEmpty,
      "optimize: pk-layout compaction and z-order clustering are " +
        "mutually exclusive (a file clusters on one key)")
    val fs = fsOf(spark, table)
    var attempt = 0
    while (true) {
      attempt += 1
      val snap = latest(spark, table) match {
        case None => return None
        case Some(s) => s
      }
      val df = readVersion(spark, table, snap.version).getOrElse(return None)
      val toWrite = pk match {
        case Some(k) => df.withColumn(PkHashCol, xxhash64(col(k)))
          .repartitionByRange(targetFiles, col(PkHashCol))
        case None =>
          if (zorderCols.isEmpty) df.repartition(targetFiles)
          else df.withColumn("__z", zorderKey(df, zorderCols, bits))
            .repartitionByRange(targetFiles, col("__z"))
            .drop("__z")
      }
      val commitId = UUID.randomUUID().toString.take(8)
      val tmp = new Path(s"$table/.staged-$commitId")
      toWrite.write.mode("overwrite").parquet(tmp.toString)
      val dataDir = new Path(s"$table/$DataDir")
      fs.mkdirs(dataDir)
      val statCols = if (pk.isDefined) Seq(PkHashCol) else zorderCols
      val parts = fs.listStatus(tmp)
        .filter(_.getPath.getName.startsWith("part-")).toSeq
        .map(st => (st, footerStatsMulti(fs, st.getPath, statCols)))
      // drop row-less files (empty range cells), but keep one for an
      // empty table — same policy as commitUpsert
      val withRows = parts.filter { case (_, (rows, _)) => rows > 0L }
      val chosen = if (withRows.nonEmpty) withRows else parts.take(1)
      parts.diff(chosen).foreach { case (st, _) => fs.delete(st.getPath, false) }
      val staged = chosen.map { case (st, (_, stats)) =>
        val name = s"c$commitId-${st.getPath.getName}"
        if (!fs.rename(st.getPath, new Path(dataDir, name)))
          sys.error(s"TxLog: failed to stage ${st.getPath}")
        FileEntry(s"$DataDir/$name", None, stats)
      }
      fs.delete(tmp, true)
      val target = snap.version + 1L
      if (tryCommit(fs, table, target, staged, Nil, snap.props)) {
        if (target % CheckpointInterval == 0) writeHint(fs, table, target)
        return Some(target)
      }
      staged.foreach(f => fs.delete(new Path(s"$table/${f.path}"), false))
      if (attempt > maxRetries)
        sys.error(s"TxLog: gave up after $maxRetries conflicting commits on $table")
      // each lost race costs a FULL snapshot rewrite (quantiles + write)
      // — back off so the compactor stops thrashing against a hot
      // upsert stream instead of burning maxRetries rewrites flat-out
      Thread.sleep(math.min(100L * attempt, 2000L))
    }
    None // unreachable
  }

  /** Retire history: delete every manifest older than the newest
    * `keep` versions — the Delta paper's log-retention window. Time
    * travel's floor rises to the oldest kept version (reading an
    * expired version throws: its manifest is gone); data files
    * referenced ONLY by expired versions become vacuum-eligible, so
    * `expireVersions` + `vacuumOrphans` is how a `commitDelete`
    * becomes a HARD delete — until both run, superseded files still
    * hold the deleted rows' bytes (the same retention caveat Delta
    * documents for GDPR workflows). Concurrency-safe: only versions
    * strictly below the current head are touched, and a stale
    * checkpoint hint that pointed into the expired range falls back
    * to the listing path by its existence check. Returns the number
    * of manifests removed. */
  def expireVersions(spark: SparkSession, table: String,
                     keep: Int = 10): Int = {
    require(keep >= 1, s"must keep at least the latest version, got $keep")
    val fs = fsOf(spark, table)
    val logDir = new Path(s"$table/$LogDir")
    if (!fs.exists(logDir)) return 0
    val versions = fs.listStatus(logDir).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".manifest"))
      .map(n => n.stripPrefix("v").stripSuffix(".manifest").toLong)
      .sorted
    versions.dropRight(keep)
      .count(v => fs.delete(manifestPath(table, v), false))
  }

  /** Delete data files no manifest references (the residue of crashed
    * or beaten commits). Never touches committed history, and — like
    * Delta's retention window — never touches files younger than
    * `graceMs`: an in-flight commit stages its files into `data/`
    * BEFORE publishing its manifest, so an age floor is what keeps a
    * concurrent vacuum from deleting a commit that is about to
    * succeed. Pass 0 only when no writer can be active (tests do).
    * Returns the number of files removed. */
  def vacuumOrphans(spark: SparkSession, table: String,
                    graceMs: Long = 3600L * 1000): Int = {
    val fs = fsOf(spark, table)
    val logDir = new Path(s"$table/$LogDir")
    val dataDir = new Path(s"$table/$DataDir")
    if (!fs.exists(dataDir)) return 0
    val referenced: Set[String] =
      if (!fs.exists(logDir)) Set.empty
      else fs.listStatus(logDir).map(_.getPath.getName)
        .filter(n => n.startsWith("v") && n.endsWith(".manifest"))
        .map(n => n.stripPrefix("v").stripSuffix(".manifest").toLong)
        .flatMap { v =>
          val m = readManifest(fs, table, v)
          // deletion-vector sidecars are referenced files too — a
          // vacuum that missed them would unmask deleted rows
          m.files.map(_.path) ++ m.dvs
        }.toSet
    val cutoff = System.currentTimeMillis() - graceMs
    fs.listStatus(dataDir)
      .filter(_.getModificationTime <= cutoff)
      .map(_.getPath)
      .filterNot { p =>
        // a pk-hash sidecar is live exactly when its base data file
        // is referenced (sidecars are index artifacts, never manifest
        // entries) — and is reaped with an unreferenced base
        val base = p.getName.stripSuffix(SidecarSuffix)
        referenced.contains(s"$DataDir/$base")
      }
      .count { p => fs.delete(p, false) }
  }
}
