package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal snapshot-manifest commit log over plain parquet — the
  * time-travel / snapshot-isolation protocol of the lakehouse table
  * formats (Delta/Iceberg ship it as a jar this image doesn't have;
  * ref: n/a, SURVEY §0), reduced to its load-bearing core:
  *
  *  - A table is a directory; its state at version V is the list of
  *    DATA UNITS (parquet files or directories) named by the manifest
  *    `_log/vNNNNN.txt` — one unit path per line, relative to the
  *    table root. Manifests are FULL snapshots (Iceberg's manifest-
  *    list shape), so reading version V never replays history.
  *  - Commits are copy-on-write at unit granularity: a writer adds
  *    new unit files/dirs, then publishes a manifest referencing the
  *    mix of retained and new units. Old units are never mutated —
  *    every already-published version stays byte-stable (snapshot
  *    isolation for readers at any version).
  *  - A commit becomes visible via an atomic hard-link publish of the
  *    fully-written manifest into `_log/` — a crashed writer leaves
  *    only a `.tmp` file, which readers ignore; there is no
  *    torn-manifest state, and concurrent writers racing for the same
  *    version number are serialized by the filesystem: exactly one
  *    wins, the rest observe the conflict ([[tryCommit]]).
  *  - Per-unit min/max/count statistics live in ONE sidecar,
  *    `_log/vNNNNN.cstats.txt`, lifted from the parquet footers
  *    ([[footerColStats]]). Every entry names its column, so a
  *    consumer that routes row keys through unit ranges reads the key
  *    column's entries by name ([[keyRanges]]) and stats kept on any
  *    other column can never route a key.
  *
  * Scale: the manifest is O(units) text; [[snapshot]] hands Spark the
  * unit paths directly, so the read is an ordinary multi-path parquet
  * scan — predicate pushdown, column pruning and partition-pruning
  * inside units all intact, nothing proportional to table history.
  * Deletes that align with unit boundaries are pure manifest edits
  * (file-drop, zero data rewrite) — the reason the lakehouse formats
  * partition data into prunable units in the first place.
  */
object CommitLog {

  private def logDir(table: String): java.nio.file.Path =
    java.nio.file.Paths.get(table, "_log")

  /** `version`'s file in `_log` with `suffix`: `txt` is the manifest,
    * the sidecars are `cstats.txt`, `bloom.txt`, `dv.txt`, `seq.txt`,
    * `colmap.txt` and `ts.txt` ([[Sidecars]]).
    */
  private def logFile(table: String, version: Long,
      suffix: String): java.nio.file.Path =
    logDir(table).resolve(f"v$version%05d.$suffix")

  private def manifest(table: String, version: Long): java.nio.file.Path =
    logFile(table, version, "txt")

  /** Every per-version sidecar suffix — what [[vacuum]] reclaims with
    * an expired version's manifest.
    */
  private val Sidecars =
    Seq("cstats.txt", "bloom.txt", "dv.txt", "seq.txt", "colmap.txt", "ts.txt")

  /** The non-empty lines of `f`; None when `f` does not exist. */
  private def lines(f: java.nio.file.Path): Option[Seq[String]] =
    if (!java.nio.file.Files.isRegularFile(f)) None
    else Some(java.nio.file.Files.readAllLines(f)
      .toArray(Array.empty[String]).toSeq.filter(_.nonEmpty))

  /** Atomic create-if-absent: write `content` to a tmp file beside
    * `target`, then hard-link it into place. link(2) is atomic and
    * fails with EEXIST when `target` exists — rename(2)/ATOMIC_MOVE
    * would silently REPLACE it on POSIX, losing the first writer's
    * file. Readers never observe a torn file; a crashed writer leaves
    * only a dot-prefixed `.tmp`, which no reader lists. False when
    * `target` already existed.
    */
  private def linkNew(target: java.nio.file.Path, content: String): Boolean = {
    val tmp = target.resolveSibling(
      s".${target.getFileName}.${java.util.UUID.randomUUID}.tmp")
    java.nio.file.Files.writeString(tmp, content)
    try { java.nio.file.Files.createLink(target, tmp); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally java.nio.file.Files.deleteIfExists(tmp)
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)

  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, java.nio.charset.StandardCharsets.UTF_8)

  /** Publish `version` as the snapshot made of `units` (paths relative
    * to the table root). Atomic: readers either see the complete
    * manifest or no version at all. Throws if `version` is already
    * published — use [[tryCommit]] for the optimistic-concurrency
    * protocol.
    */
  def commit(table: String, version: Long, units: Seq[String]): Unit =
    require(tryCommit(table, version, units),
      s"version $version of $table was published concurrently — " +
        "re-read the table state, re-apply the change, and retry at " +
        "the next version number")

  /** Optimistic-concurrency publish — the conflict-detection core of
    * the lakehouse formats: every writer prepares its units, then
    * races to publish manifest vN; the rename-if-absent is atomic at
    * the filesystem layer, so exactly ONE writer wins and every loser
    * gets `false` with the winner's manifest untouched (its own
    * prepared units are unreferenced garbage for VACUUM). A loser
    * retries by re-reading the new latest version, re-applying its
    * change on top, and publishing as vN+1 — snapshot-isolation
    * writes without any lock service, the same protocol Delta runs
    * on object stores.
    */
  def tryCommit(table: String, version: Long, units: Seq[String]): Boolean = {
    require(units.nonEmpty, "a snapshot must reference at least one unit")
    // the manifest is newline-delimited and the plain sidecars are
    // '|'-delimited: a unit name carrying either separator would
    // CORRUPT the log silently (a '\n' splits one unit into two
    // phantom paths; a '|' shears every stats line) — reject at the
    // commit boundary, the one gate all writers pass through
    units.foreach { u =>
      require(u.nonEmpty && !u.exists(c => c == '\n' || c == '\r' || c == '|'),
        s"illegal unit name ${u.replace("\n", "\\n").replace("\r", "\\r")} — " +
          "unit paths must be non-empty and free of newlines and '|'")
    }
    java.nio.file.Files.createDirectories(logDir(table))
    linkNew(manifest(table, version), units.mkString("", "\n", "\n"))
  }

  /** SCHEMA-ENFORCED commit: like [[commit]], but the units the new
    * version ADDS must carry a schema compatible with the current
    * snapshot's — every existing column present with the same type;
    * new columns allowed only when `allowAdditive` (the
    * schema-evolution opt-in, Delta's mergeSchema write flag). This is
    * the WRITE-side gate that keeps schema-on-read honest: without it
    * one producer typo'ing a column type poisons every future
    * mergeSchema read with a merge conflict at query time, far from
    * the write that caused it. Validation reads only the NEW units'
    * footers — O(delta) metadata, nothing table-sized.
    */
  def commitChecked(spark: SparkSession, table: String, version: Long,
      units: Seq[String], allowAdditive: Boolean = true): Unit = {
    val vs = versions(table)
    if (vs.nonEmpty) {
      val prevUnits = this.units(table, vs.last).toSet
      val added = units
        .map(u => java.nio.file.Paths.get(table, u).toString)
        .filterNot(prevUnits)
      if (added.nonEmpty) {
        val prev = Parquet.read(spark, this.units(table, vs.last),
          mergeSchema = true).schema
        val next = Parquet.read(spark, added, mergeSchema = true).schema
        prev.fields.foreach { f =>
          next.fields.find(_.name == f.name).foreach { g =>
            require(g.dataType == f.dataType,
              s"schema enforcement: column ${f.name} is ${f.dataType} " +
                s"in $table but the new units carry ${g.dataType} — a " +
                "type change needs an explicit rewrite, not a commit")
          }
        }
        if (!allowAdditive) {
          val extra = next.fieldNames.toSet -- prev.fieldNames.toSet
          require(extra.isEmpty,
            s"schema enforcement: new units add columns " +
              s"${extra.mkString(",")} — pass allowAdditive=true to " +
              "opt into schema evolution")
        }
      }
    }
    commit(table, version, units)
  }

  /** Published versions, ascending. `.tmp` leftovers of crashed
    * writers are not versions.
    */
  def versions(table: String): Seq[Long] = {
    val dir = logDir(table)
    if (!java.nio.file.Files.isDirectory(dir)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      // strict vNNNNN.txt match: every sidecar (vNNNNN.cstats.txt …)
      // also starts with "v" and ends ".txt" — a loose prefix/suffix
      // test would throw parsing "00000.cstats" as a version number
      val m = java.util.regex.Pattern.compile("^v(\\d+)\\.txt$")
      // close the listing stream (ADVICE r9): Files.list holds a
      // directory fd until closed; versions() runs several times per
      // dml query, so a leak here accumulates for the JVM lifetime
      val st = java.nio.file.Files.list(dir)
      try st.iterator().asScala
        .map(n => m.matcher(n.getFileName.toString))
        .collect { case mm if mm.matches() => mm.group(1).toLong }
        .toVector.sorted
      finally st.close()
    }
  }

  def latestVersion(table: String): Long = {
    val vs = versions(table)
    require(vs.nonEmpty, s"$table has no published versions")
    vs.last
  }

  /** When `version` became visible: the manifest's mtime, stamped by
    * the atomic link publish itself — no separate clock column to
    * drift from the commit protocol.
    */
  def commitTime(table: String, version: Long): java.time.Instant = {
    val m = manifest(table, version)
    require(java.nio.file.Files.isRegularFile(m),
      s"$table has no version $version")
    java.nio.file.Files.getLastModifiedTime(m).toInstant
  }

  /** TIMESTAMP AS OF: the latest version whose commit time is ≤ `ts` —
    * what a reader at that wall-clock instant would have seen. Fails
    * loudly for a timestamp before the first commit (there was no
    * table to read; silently returning v0 would fabricate history).
    */
  def versionAsOf(table: String, ts: java.time.Instant): Long = {
    val vs = versions(table)
    require(vs.nonEmpty, s"$table has no published versions")
    val at = vs.filter(v => !commitTime(table, v).isAfter(ts))
    require(at.nonEmpty,
      s"$ts predates the first commit of $table " +
        s"(${commitTime(table, vs.head)})")
    at.last
  }

  /** The unit paths (absolute) of `version`'s snapshot. */
  def units(table: String, version: Long): Seq[String] =
    manifestLines(table, version)
      .map(u => java.nio.file.Paths.get(table, u).toString)

  /** Read the table AS OF `version` — an ordinary multi-path parquet
    * scan over that snapshot's units. The read goes through
    * [[Parquet.read]], which takes the schema from the units' footers on
    * the driver, so no snapshot starts a Spark job.
    */
  def snapshot(spark: SparkSession, table: String, version: Long): DataFrame =
    Parquet.read(spark, units(table, version))

  /** Read AS OF `version` like [[snapshot]], with the optimizer fed
    * CatalogStatistics FOLDED FROM THAT VERSION'S CSTATS SIDECAR
    * (round 15 — VERDICT r14 #3): rowCount = Σ per-unit counts,
    * sizeInBytes = Σ unit file sizes, per-column min/max for
    * long-footer columns. `cbo_sidecar_stats` proved the fold for
    * REGISTERED catalog tables; this is the same fold attached
    * directly to the snapshot scan's LogicalRelation via a synthetic
    * CatalogTable — the field ANALYZE would populate — so hint-free
    * joins over commit-log tables plan from statistics AT ANY VERSION
    * with no ANALYZE, no extra scan, and no catalog registration. At
    * 100 TB this is the lakehouse stats practice: the writer already
    * paid for the footer statistics at commit time; every later
    * reader's join reorder is O(units × cols) strings. A version
    * without a cstats sidecar falls back to the plain snapshot read
    * (stats are an optimization, never a correctness input). Only
    * long-kind columns publish min/max — their footer rendering IS
    * the catalog's external string form (the unique-probe lesson);
    * null counts are omitted rather than guessed (the sidecar's
    * per-column count includes nulls).
    */
  def snapshotWithStats(spark: SparkSession, table: String,
      version: Long): DataFrame = {
    val df = snapshot(spark, table, version)
    val cs = colStatsOpt(table, version).getOrElse(Seq.empty)
    if (cs.isEmpty) return df
    // row-count authority = MAX over per-column count sums (ADVICE
    // r15): schema-on-read evolution can add a column mid-history, so
    // the sidecar's FIRST column may be absent from early units and
    // its sum would silently understate rows (stats-only, but enough
    // to flip a broadcast decision). Per-column counts include nulls,
    // so any column present in every unit sums to the true row count
    // and every partially-covered column sums lower — max picks a
    // fully-covered column without needing to know which one it is.
    val rowCount = cs.groupBy(_.col).map(_._2.map(_.count).sum).max
    // units are routinely DIRECTORIES of part files (review r15:
    // Files.size on a directory returns the inode size, which would
    // report a multi-GB snapshot as a few KB and broadcast the huge
    // side of a join) — [[unitSize]] is the directory-aware sizing
    // authority (it also drives compact's minUnitBytes packing)
    val sizeInBytes = units(table, version).map(u => unitSize(u)._1).sum
    // only columns whose SPARK type is integral publish min/max: the
    // footer kind "long" also covers DATE (INT32), TIMESTAMP (INT64)
    // and small DECIMAL (INT64) logical columns, whose CatalogColumnStat
    // external string form is NOT the raw physical number — publishing
    // it would crash or mis-scale CBO's estimation (review r15; the
    // unique-probe lesson again, from the other side)
    val integral: Set[org.apache.spark.sql.types.DataType] = Set(
      org.apache.spark.sql.types.LongType,
      org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.ByteType)
    val sparkTypes = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val perCol = cs.groupBy(_.col).collect {
      case (c, us) if us.forall(_.kind == "long") &&
          sparkTypes.get(c).exists(integral.contains) =>
        c -> org.apache.spark.sql.catalyst.catalog.CatalogColumnStat(
          distinctCount = None,
          min = Some(us.map(_.min.toLong).min.toString),
          max = Some(us.map(_.max.toLong).max.toString),
          nullCount = None)
    }
    val analyzed = org.apache.spark.sql.graft.GraftSqlInternals.analyzed(df)
    val withStats = analyzed.transform {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.copy(catalogTable = Some(
          org.apache.spark.sql.catalyst.catalog.CatalogTable(
            identifier = org.apache.spark.sql.catalyst.TableIdentifier(
              s"graft_snapshot_v$version"),
            tableType =
              org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL,
            storage = org.apache.spark.sql.catalyst.catalog
              .CatalogStorageFormat.empty,
            schema = lr.schema,
            provider = Some("parquet"),
            stats = Some(org.apache.spark.sql.catalyst.catalog
              .CatalogStatistics(
                sizeInBytes = BigInt(sizeInBytes),
                rowCount = Some(BigInt(rowCount)),
                colStats = perCol)))))
    }
    org.apache.spark.sql.graft.GraftSqlInternals.ofRows(spark, withStats)
  }

  /** Read AS OF `version` with SCHEMA-ON-READ evolution: units written
    * before a column existed surface it as null (parquet mergeSchema —
    * the additive-column path of the lakehouse formats; renames/drops
    * need a mapping the manifest doesn't carry). Every read costs a
    * footer read per data file on the driver at planning
    * ([[Parquet.read]]) and starts no Spark job. Pushdown/pruning on
    * shared columns intact.
    */
  def snapshotEvolved(spark: SparkSession, table: String, version: Long): DataFrame =
    Parquet.read(spark, units(table, version), mergeSchema = true)

  /** Atomic, immutable sidecar publish: same hard-link protocol as
    * manifests (rename would silently REPLACE a concurrent writer's
    * sidecar — the one commit-path rename race left after round 9),
    * plus the published-version check: stats may only be attached to a
    * version whose manifest exists, so a sidecar can never describe an
    * unpublished (or never-to-be-published) snapshot.
    */
  private def publishSidecar(table: String, version: Long, suffix: String,
      content: String): Unit = {
    require(java.nio.file.Files.isRegularFile(manifest(table, version)),
      s"cannot publish $suffix stats for unpublished version $version of $table")
    if (!linkNew(logFile(table, version, suffix), content))
      throw new IllegalStateException(
        s"$suffix stats for $table v$version already published — " +
          "sidecars are immutable once linked")
  }

  /** CRASH RECOVERY for the stats layer: derive and publish the cstats
    * sidecar of an already-published `version` on `keyCol` from its
    * units' PARQUET FOOTERS — no caller-remembered stats needed, no
    * data pages read. This closes the mergeCow/applyDeletes crash
    * window (tryCommit succeeded, the post-commit sidecar publish did
    * not): the version is readable but the NEXT merge refuses to route
    * without per-unit key ranges — run rebuildStats and it proceeds.
    * Footers are the ground truth the original publish also measured,
    * so the rebuilt sidecar is equivalent, not approximate. Publishing
    * is the same immutable hard-link as every sidecar: rebuilding a
    * version that already has stats fails loudly (there is nothing to
    * recover).
    */
  def rebuildStats(spark: SparkSession, table: String, version: Long,
      keyCol: String): Unit =
    writeColStats(table, version,
      footerColStats(spark, table, unitsRel(table, version), Seq(keyCol)))

  /** One column's per-unit statistics: `kind` is `long`, `double` or
    * `string`; min/max are string-rendered (lexicographic compare is
    * order-faithful for `string`, numeric parse for the others);
    * `count` is the column's value count including nulls.
    */
  final case class ColStat(unit: String, col: String, kind: String,
      min: String, max: String, count: Long)

  /** `a < b` in a stats `kind`'s order: lexicographic for `string`,
    * numeric for `long` and `double`.
    */
  private def kindLt(kind: String, a: String, b: String): Boolean =
    if (kind == "string") a < b
    else if (kind == "long") a.toLong < b.toLong
    else a.toDouble < b.toDouble

  /** Derive per-unit multi-column stats from the units' PARQUET
    * FOOTERS — no data pages are read. This is how a format's commit
    * path gets its file-stats index for free: the writer already paid
    * for the footer statistics, the commit just lifts them into the
    * manifest layer (caller-supplied stats can lie; footers can't).
    *
    * Footer I/O is O(units × row groups) metadata, and it runs ON THE
    * EXECUTORS (one task per unit batch): a driver-side loop would
    * serialize 10⁵ footer round-trips into minutes of commit latency —
    * the listing, open and footer decode all distribute; only the
    * O(units × cols) stat tuples come back to the driver. The Hadoop
    * conf ships to tasks as plain key/value pairs (so object-store
    * credentials and endpoints survive without any Spark-internal
    * serialization helper).
    *
    * Binary (string) min/max may be TRUNCATED bounds in the footer
    * (parquet-mr keeps them safe: truncated min sorts ≤ the true min,
    * truncated max is bumped to sort ≥ the true max), so pruning on
    * them stays correct. Columns whose every row group lacks usable
    * statistics fail loudly — on the task, propagated to the caller —
    * rather than silently publishing an unprunable entry.
    */
  def footerColStats(spark: SparkSession, table: String,
      relUnits: Seq[String], cols: Seq[String]): Seq[ColStat] = {
    if (relUnits.isEmpty) return Seq.empty
    val want = cols.toSet
    val hconfKV: Array[(String, String)] = {
      import scala.jdk.CollectionConverters._
      spark.sessionState.newHadoopConf().iterator().asScala
        .map(e => e.getKey -> e.getValue).toArray
    }
    val absUnits = relUnits.map(u =>
      u -> java.nio.file.Paths.get(table, u).toString)
    def statsOfUnit(rel: String, abs: String,
        conf: org.apache.hadoop.conf.Configuration): Seq[ColStat] = {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
      import scala.jdk.CollectionConverters._
      val dir = new org.apache.hadoop.fs.Path(abs)
      val fs = dir.getFileSystem(conf)
      val files =
        if (fs.getFileStatus(dir).isFile) Seq(dir)
        else {
          // RECURSIVE listing: a unit written with partitioning (or any
          // nested layout) keeps its files in subdirectories — a
          // top-level-only listing would silently exclude them and
          // publish an understated entry that mis-prunes reads
          val it = fs.listFiles(dir, true)
          val buf = Seq.newBuilder[org.apache.hadoop.fs.Path]
          while (it.hasNext) {
            val f = it.next()
            if (f.isFile && f.getPath.getName.endsWith(".parquet"))
              buf += f.getPath
          }
          buf.result()
        }
      // (col, kind) -> (min, max, count) folded across files/row groups
      val acc = scala.collection.mutable.Map
        .empty[String, (String, String, String, Long)]
      files.foreach { f =>
        val rd = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try rd.getFooter.getBlocks.asScala.foreach { block =>
          block.getColumns.asScala.foreach { cc =>
            val name = cc.getPath.toDotString
            if (want(name)) {
              val st = cc.getStatistics
              require(st != null && st.hasNonNullValue,
                s"unit $rel column $name has no usable footer statistics " +
                  "— cannot publish a prunable stats entry for it")
              val (kind, mn, mx) = cc.getPrimitiveType.getPrimitiveTypeName match {
                case INT64 | INT32 => ("long",
                  st.genericGetMin.toString, st.genericGetMax.toString)
                case DOUBLE | FLOAT => ("double",
                  st.genericGetMin.toString, st.genericGetMax.toString)
                case BINARY => ("string",
                  st.minAsString, st.maxAsString)
                case other => throw new IllegalArgumentException(
                  s"unsupported stats physical type $other for $name")
              }
              acc.updateWith(name) {
                case None => Some((kind, mn, mx, cc.getValueCount))
                case Some((k, omn, omx, n)) =>
                  require(k == kind, s"mixed physical types for $name")
                  Some((k, if (kindLt(kind, mn, omn)) mn else omn,
                    if (kindLt(kind, omx, mx)) mx else omx,
                    n + cc.getValueCount))
              }
            }
          }
        } finally rd.close()
      }
      cols.map { c =>
        val (kind, mn, mx, n) = acc.getOrElse(c, throw new
            IllegalArgumentException(s"column $c absent from unit $rel"))
        ColStat(rel, c, kind, mn, mx, n)
      }
    }
    val slices = math.max(1, math.min(absUnits.size,
      spark.sparkContext.defaultParallelism * 4))
    val byUnit = spark.sparkContext.parallelize(absUnits, slices)
      .map { case (rel, abs) =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        hconfKV.foreach { case (k, v) => conf.set(k, v) }
        rel -> statsOfUnit(rel, abs, conf)
      }
      .collect().toMap // metadata-sized: O(units × cols) stat tuples
    relUnits.flatMap(byUnit) // stable caller order
  }

  /** Caller-stamped commit time (micros) — the `vNNNNN.ts.txt` sidecar
    * that makes TIMESTAMP AS OF resolvable DETERMINISTICALLY (file
    * mtimes are not portable across copies/clones/restores, so the
    * stamp is explicit and immutable like every sidecar). Stamps must
    * be strictly increasing across stamped versions — a non-monotonic
    * history would make AS OF ambiguous, so it is refused at publish
    * time (the Delta/Iceberg commit-timestamp contract).
    */
  def writeCommitTs(table: String, version: Long, tsMicros: Long): Unit = {
    // immutability outranks monotonicity: a RESTAMP must surface as
    // the sidecar-already-published error, not as a range complaint
    // against the very stamp being replaced
    if (commitTsOpt(table, version).isDefined)
      publishSidecar(table, version, "ts.txt", s"$tsMicros\n") // throws
    versions(table).filter(_ < version)
      .flatMap(v => commitTsOpt(table, v)).lastOption.foreach { p =>
        require(tsMicros > p,
          s"commit ts $tsMicros for v$version must exceed the previous " +
            s"stamped commit's $p — AS OF needs a monotonic history")
      }
    // Monotonic in BOTH directions (ADVICE r11): stamping out of
    // version order (v0 then v2 then v1) must not be able to publish a
    // stamp ABOVE a later version's — that history would make AS OF
    // resolve misleadingly despite every individual publish "passing".
    versions(table).filter(_ > version)
      .flatMap(v => commitTsOpt(table, v)).headOption.foreach { nxt =>
        require(tsMicros < nxt,
          s"commit ts $tsMicros for v$version must precede the next " +
            s"stamped commit's $nxt — AS OF needs a monotonic history")
      }
    publishSidecar(table, version, "ts.txt", s"$tsMicros\n")
  }

  /** The stamped commit time of `version` (micros); loud if absent. */
  def commitTs(table: String, version: Long): Long =
    commitTsOpt(table, version).getOrElse(
      throw new IllegalArgumentException(
        s"$table v$version has no commit-ts sidecar"))

  private def commitTsOpt(table: String, version: Long): Option[Long] =
    lines(logFile(table, version, "ts.txt")).map(_.mkString.trim.toLong)

  /** TIMESTAMP AS OF: the latest stamped version whose commit time is
    * <= `tsMicros` (boundary inclusive — reading AS OF the exact
    * commit instant sees that commit). Loud on a time before the
    * first stamped commit: you cannot read a table from before it
    * existed.
    */
  def versionAsOf(table: String, tsMicros: Long): Long = {
    val stamped = versions(table)
      .flatMap(v => commitTsOpt(table, v).map(v -> _))
    require(stamped.nonEmpty,
      s"$table has no commit-ts sidecars — stamp commits with " +
        "writeCommitTs to use AS OF")
    val eligible = stamped.filter(_._2 <= tsMicros)
    require(eligible.nonEmpty,
      s"AS OF $tsMicros precedes $table's first stamped commit " +
        s"(${stamped.head._2})")
    eligible.map(_._1).max
  }

  /** Publish the multi-column stats sidecar (`vNNNNN.cstats.txt`) —
    * one URL-encoded `unit|col|kind|min|max|count` line per entry,
    * same atomic hard-link publish and published-version check as the
    * manifest.
    */
  def writeColStats(table: String, version: Long, stats: Seq[ColStat]): Unit =
    publishSidecar(table, version, "cstats.txt",
      stats.map(colStatLine).mkString("", "\n", "\n"))

  /** One cstats sidecar line — shared by the publish path and the
    * purge rebuild so the two can never drift in format.
    */
  private def colStatLine(s: ColStat): String =
    Seq(s.unit, s.col, s.kind, s.min, s.max)
      .map(enc).mkString("|") + s"|${s.count}"

  /** The multi-column stats of `version`; loud when it has none. */
  def colStats(table: String, version: Long): Seq[ColStat] =
    colStatsOpt(table, version).getOrElse(throw new IllegalArgumentException(
      s"$table has no column stats for version $version"))

  /** The multi-column stats of `version`, None without a cstats sidecar. */
  private def colStatsOpt(table: String, version: Long): Option[Seq[ColStat]] =
    lines(logFile(table, version, "cstats.txt")).map(_.map { l =>
      val Array(u, c, k, mn, mx, n) = l.split('|')
      ColStat(dec(u), dec(c), dec(k), dec(mn), dec(mx), n.toLong)
    })

  /** The per-unit `(unit, min, max, count)` ranges of the column
    * `col` at `version`: its `long`-kind cstats entries, in sidecar
    * order. This is what every consumer that routes ROW KEYS through
    * unit ranges reads ([[mergeCow]], [[applyDeletes]], [[changes]]);
    * an entry names its column, so a range is a key range exactly when
    * it was measured on the key column — stats kept only on another
    * column (an index table's bucket ids) never route a key. Empty
    * without a cstats sidecar or without `long` entries for `col`.
    */
  def keyRanges(table: String, version: Long,
      col: String): Seq[(String, Long, Long, Long)] =
    colStatsOpt(table, version).getOrElse(Seq.empty)
      .filter(s => s.col == col && s.kind == "long")
      .map(s => (s.unit, s.min.toLong, s.max.toLong, s.count))

  /** Stats-pruned read on ANY statted column: scan only the units
    * whose footer [min,max] for `colName` intersects [lo, hi] — the
    * one-predicate case of [[snapshotRangeMulti]]. Returns the
    * surviving-units frame + how many units the probe scans; a
    * no-match probe is the empty frame. Rows outside [lo, hi] inside
    * a surviving unit still need the ordinary pushed filter — stats
    * prune UNITS, not rows. Like [[snapshot]], all the pruned-read
    * paths serve the RAW pre-image: on a table with outstanding
    * merge-on-read deletes, anti-join [[deletes]] yourself or compact
    * first.
    */
  def snapshotRangeCol(spark: SparkSession, table: String, version: Long,
      colName: String, lo: String, hi: String): (DataFrame, Int) =
    snapshotRangeMulti(spark, table, version, Seq((colName, lo, hi)))

  /** Conjunctive stats-pruned read: a unit survives only if EVERY
    * predicate's [lo, hi] intersects that column's footer [min, max] —
    * the multi-column skipping a z-ordered layout exists to serve
    * (each dim's span is bounded per unit, so a small rectangle probe
    * prunes multiplicatively where a linear layout prunes on one dim
    * at best). The compare follows the entry's kind: numeric for
    * long/double stats, lexicographic for string (order-faithful when
    * the column's encoding is, e.g. zero-padded keys or ISO dates).
    * Surviving units are read in sidecar order. A probe intersecting
    * no unit is a valid, fully-pruned read: the EMPTY frame with the
    * snapshot's schema, 0 units scanned.
    */
  def snapshotRangeMulti(spark: SparkSession, table: String, version: Long,
      preds: Seq[(String, String, String)]): (DataFrame, Int) = {
    require(preds.nonEmpty, "need at least one (column, lo, hi) predicate")
    val cs = colStats(table, version)
    val surviving = preds.map { case (colName, lo, hi) =>
      val forCol = cs.filter(_.col == colName)
      require(forCol.nonEmpty,
        s"$table v$version has no stats for column $colName")
      forCol.filter(s => !kindLt(s.kind, hi, s.min) && !kindLt(s.kind, s.max, lo))
        .map(_.unit).toSet
    }.reduce(_ intersect _)
    val picked = cs.map(_.unit).distinct.filter(surviving)
      .map(u => java.nio.file.Paths.get(table, u).toString)
    if (picked.isEmpty) (snapshot(spark, table, version).limit(0), 0)
    else (Parquet.read(spark, picked), picked.size)
  }

  /** The units `version` ADDED relative to its predecessor (all of
    * them for the first version) — the incremental feed a streaming
    * consumer of an append-only table processes: each micro-batch is
    * one version's added units, cost O(delta) never O(table), exactly
    * the Delta/Iceberg streaming-source contract. Tables that REMOVE
    * units (deletes, compaction) need the CDC feed ([[changes]])
    * instead — removed units carry retracted rows this API
    * deliberately does not surface (use [[removedUnits]] to detect
    * and reject them).
    */
  def addedUnits(table: String, version: Long): Seq[String] = {
    val now = units(table, version)
    val vs = versions(table)
    val idx = vs.indexOf(version)
    require(idx >= 0, s"$table has no version $version")
    if (idx == 0) now
    else {
      // Set membership, not Seq.diff: manifests are O(units) lines and
      // the diff runs per micro-batch — O(n·m) scans would make log
      // planning quadratic in table width at 100 TB unit counts
      val prev = units(table, vs(idx - 1)).toSet
      now.filterNot(prev)
    }
  }

  /** Units `version` removed relative to its predecessor — non-empty
    * means the version is not an append and an incremental consumer
    * must either fail or switch to a CDC-aware path.
    */
  def removedUnits(table: String, version: Long): Seq[String] = {
    val vs = versions(table)
    val idx = vs.indexOf(version)
    require(idx >= 0, s"$table has no version $version")
    if (idx == 0) Seq.empty
    else {
      val now = units(table, version).toSet
      units(table, vs(idx - 1)).filterNot(now)
    }
  }

  /** Incremental read of an APPEND-ONLY version: the dataframe over
    * only the units `version` added. Fails loudly when the version
    * also removed units (a delete/compaction — silently treating it
    * as an append would double-count or miss retractions).
    */
  def incremental(spark: SparkSession, table: String, version: Long): DataFrame = {
    val removed = removedUnits(table, version)
    require(removed.isEmpty,
      s"version $version of $table removed units (${removed.mkString(",")}) — " +
        "not an append; an incremental consumer needs a CDC feed here")
    // merge-on-read deletes are retractions too: a version that
    // declares NEW tombstones is not an append even though its
    // manifest only grew (carried-forward sidecars from a compaction
    // are fine — those tombstones were already accounted)
    val newDv = newDvLines(table, version)
    require(newDv.isEmpty,
      s"version $version of $table declared merge-on-read deletes " +
        s"(${newDv.mkString(",")}) — retractions need the CDC/dv path")
    val added = addedUnits(table, version)
    // a manifest-identical version (e.g. dv-free metadata republish)
    // contributes an EMPTY micro-batch, not a crash
    if (added.isEmpty) snapshot(spark, table, version).limit(0)
    else Parquet.read(spark, added)
  }

  /** MERGE (upsert by key) as a unit-granular copy-on-write commit —
    * the Delta MERGE INTO core. Rows of `updates` replace same-key
    * rows of the latest snapshot; keys matching no existing row are
    * inserted. `updates` must carry exactly the table's columns, with
    * unique keys (the standard MERGE source contract).
    *
    * The write path is what makes this scale:
    *  1. ROUTE — update keys are ranged against the key column's
    *     cstats entries ([[keyRanges]]; O(units) metadata, broadcast),
    *     so only units whose [min,max] key range an update can touch
    *     are rewritten. A merge touching
    *     2 of 10⁵ units reads and writes 2 units of data, never the
    *     table.
    *  2. REWRITE — touched units re-emerge as one new unit: their rows
    *     minus replaced keys, plus every in-range update row. Keys
    *     outside all unit ranges land in a separate insert unit.
    *  3. PUBLISH — the new manifest (untouched units carried by name +
    *     the new units) races through [[tryCommit]]; a loser re-reads
    *     the winner's snapshot and re-applies the merge on top —
    *     snapshot-isolated optimistic concurrency, no lock service.
    *     A fresh cstats sidecar (untouched entries carried, new units
    *     lifted from their footers on every tracked column) is
    *     published with the winning version so the NEXT merge routes
    *     correctly. A version without key ranges for EVERY unit is
    *     refused: routing a key through partial or non-key stats
    *     would silently skip the unit holding it.
    *
    * Untouched unit files are never opened, so they stay byte-stable
    * across the merge (pinned by Round10OpsSpec). Returns the new
    * version. `beforeCommit` is a test seam: it runs between prepare
    * and publish, where a concurrent writer would interleave.
    */
  def mergeCow(spark: SparkSession, table: String, updates: DataFrame,
      keyCol: String, beforeCommit: () => Unit = () => ()): Long = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit, when}
    var hook = beforeCommit
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 10,
        s"merge on $table lost $attempts commit races — livelock; back off")
      val v = latestVersion(table)
      // a MERGE rewrites touched units from their RAW pre-images; on a
      // table with outstanding merge-on-read deletes that would
      // resurrect deleted rows inside the rewritten region AND the new
      // version would need sidecar surgery to stay correct — refuse
      // loudly, the compaction that applies the tombstones is the
      // documented prerequisite (exactly Delta's rule: DVs must be
      // rewritten away before the file is eligible for DML rewrite)
      require(dvLines(table, v).isEmpty,
        s"$table v$v has outstanding merge-on-read deletes — run a " +
          "compaction (snapshotMoR -> new version) before merging")
      val st = keyRanges(table, v, keyCol)
      require(st.size == units(table, v).size,
        s"$keyCol stats of $table v$v cover ${st.size} of " +
          s"${units(table, v).size} units — merge routing needs every " +
          "unit's key range")
      // disjoint ranges are what make per-key routing single-target: a
      // hash layout's overlapping spans would silently DUPLICATE every
      // in-range update row through the range join below
      st.sortBy(_._2).sliding(2).foreach {
        case Seq((ua, _, mxa, _), (ub, mnb, _, _)) =>
          require(mxa < mnb,
            s"unit key ranges overlap ($ua..$mxa vs $ub..$mnb) — merge " +
              "routing requires a range-clustered layout")
        case _ => ()
      }
      import spark.implicits._
      val ranges = st.zipWithIndex
        .map { case ((u, mn, mx, _), i) => (i, mn, mx) }
        .toDF("__uid", "__mn", "__mx")
      val tagged = updates.join(broadcast(ranges),
        col(keyCol).between(col("__mn"), col("__mx")), "left")
      val outRange = tagged.filter(col("__uid").isNull)
        .drop("__uid", "__mn", "__mx")
      val touchedIds = updates.select(col(keyCol).as("__k"))
        .join(broadcast(ranges), col("__k").between(col("__mn"), col("__mx")))
        .select("__uid").distinct()
        .collect().map(_.getInt(0)).toSet // metadata-sized: O(units) routing state
      val touchedRel = st.zipWithIndex.collect {
        case ((u, _, _, _), i) if touchedIds(i) => u
      }
      val newUnits = Seq.newBuilder[String]
      def writeUnit(df: DataFrame, rel: String): Unit = {
        df.write.parquet(java.nio.file.Paths.get(table, rel).toString)
        newUnits += rel
      }
      // ONE REWRITTEN UNIT PER TOUCHED UNIT, never a collapsed span:
      // each rewrite is (that unit's rows minus its replaced keys) ∪
      // (the updates routed to it), so its key range stays a SUBSET of
      // the original unit's — the layout stays disjoint and the NEXT
      // merge still routes. A single collapsed rewrite of
      // non-adjacent touched units (say 2 and 5) would publish a
      // range spanning the carried units between them and permanently
      // trip the overlap require above. Loop cost is O(touched units)
      // delta-sized jobs — the documented merge cost model.
      st.zipWithIndex.foreach { case ((u, _, _, _), i) =>
        if (touchedIds(i)) {
          val upd = tagged.filter(col("__uid") === i)
            .drop("__uid", "__mn", "__mx")
          val unitDf = Parquet.read(spark,
            java.nio.file.Paths.get(table, u).toString)
          writeUnit(
            unitDf.join(upd.select(col(keyCol)), Seq(keyCol), "left_anti")
              .unionByName(upd),
            f"data/merge_v${v + 1}%05d_rw${i}_$attempts")
        }
      }
      // INSERTS land ONE UNIT PER GAP of the range layout (below the
      // first unit, between consecutive units, above the last), never
      // one collapsed unit: on a layout with interior gaps (natural
      // after applyDeletes shrinks or empties a unit) a collapsed
      // insert unit's [min,max] would SPAN the carried units between
      // its keys and permanently trip the next merge's overlap guard —
      // the same lock-out the per-touched-unit rewrite prevents, on
      // the insert side. Each gap unit's measured range is a subset of
      // its gap by construction, so the layout stays disjoint.
      if (!outRange.isEmpty) {
        val sorted = st.map(s => (s._2, s._3)).sortBy(_._1)
        // gap g = keys before unit g's min (and past unit g-1's max —
        // given, since the row matched no range); g = units.size is
        // the region above every range
        val gapped = outRange.withColumn("__gap",
          sorted.indices.map(g =>
            when(col(keyCol) < lit(sorted(g)._1), lit(g)))
            .reduceOption((a, b) => coalesce(a, b))
            .map(c => coalesce(c, lit(sorted.size)))
            .getOrElse(lit(0)))
        val gaps = gapped.select("__gap").distinct()
          .collect().map(_.getInt(0)).sorted // metadata-sized: <= units+1 gap ids
        gaps.foreach { g =>
          writeUnit(gapped.filter(col("__gap") === g).drop("__gap"),
            f"data/merge_v${v + 1}%05d_ins${g}_$attempts")
        }
      }
      val carried = st.filterNot(s => touchedRel.contains(s._1))
      val manifestUnits =
        carried.map(_._1) ++ newUnits.result()
      hook(); hook = () => () // the race window fires once
      if (tryCommit(table, v + 1, manifestUnits)) {
        // untouched entries carry, new units get theirs lifted from
        // the just-written footers on every tracked column
        val cs = colStats(table, v)
        val fresh = footerColStats(spark, table, newUnits.result(),
          cs.map(_.col).distinct)
        writeColStats(table, v + 1,
          cs.filterNot(s => touchedRel.contains(s.unit)) ++ fresh)
        // a bloom-indexed table keeps point-lookup skipping across the
        // merge: carried entries verbatim, rewritten/insert units get
        // filters REBUILT delta-only (their content changed — a
        // carried filter would go stale-positive, a missing one would
        // make snapshotBloom refuse the whole sidecar)
        val ns = fresh.filter(_.col == keyCol).map(s => s.unit -> s.count).toMap
        carryBloomStats(spark, table, v, v + 1, newUnits.result(),
          touchedRel.toSet, rel => ns.getOrElse(rel, 1L), 0.03)
        return v + 1
      }
      // lost the race: reclaim our prepared units immediately (no
      // manifest ever referenced them, so this is safe) instead of
      // leaving them as vacuum-bait, then re-read the winner's
      // snapshot and re-apply on top
      newUnits.result().foreach(u =>
        Fs.deleteRecursively(java.nio.file.Paths.get(table, u).toString))
    }
    -1L // unreachable
  }

  /** Incremental OPTIMIZE: bin-pack ONLY the units smaller than
    * `minUnitBytes` into one new unit and publish the result via
    * [[tryCommit]]; units already at healthy size are carried by name
    * and never opened (their files stay byte-identical — the property
    * that makes repeated compaction affordable: cost tracks the
    * SMALL-FILE BACKLOG, not the table). This is the real formats'
    * OPTIMIZE cost model (Delta compacts only files under
    * minFileSize); the full-rewrite variant in dml_optimize is the
    * degenerate `minUnitBytes = ∞` case. Returns the new version, or
    * None when fewer than two units qualify (nothing to pack — a
    * no-op version would just churn the log). A loser of the commit
    * race retries on the winner's snapshot, same as [[mergeCow]].
    */
  def compact(spark: SparkSession, table: String,
      minUnitBytes: Long): Option[Long] = {
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 10,
        s"compaction on $table lost $attempts commit races — back off")
      val v = latestVersion(table)
      // an un-applied upsert's tombstones do NOT apply to its own
      // post-image units (the snapshotMoRSeq sequence rule);
      // bin-packing would blend pre- and post-images into one unit
      // under a globally-applied carried sidecar — deleting the
      // post-images right back out. Maintenance order is applyDeletes
      // first (the same discipline mergeCow enforces).
      require(seqLines(table, v).isEmpty,
        s"$table v$v is an un-applied merge-on-read upsert — run " +
          "applyDeletes before compacting")
      val current = units(table, v)
      val sized = current.map { abs =>
        val (n, _) = unitSize(abs)
        (abs, n)
      }
      val (small, big) = sized.partition(_._2 < minUnitBytes)
      if (small.size < 2) return None
      val rel = f"data/compact_v${v + 1}%05d_$attempts"
      Parquet.read(spark, small.map(_._1))
        .write.parquet(java.nio.file.Paths.get(table, rel).toString)
      // carry big units by their original manifest-relative names
      val root = java.nio.file.Paths.get(table)
      val carried = {
        val bigSet = big.map(_._1).toSet
        manifestLines(table, v).filter { line =>
          bigSet(java.nio.file.Paths.get(table, line).toString)
        }
      }
      if (tryCommit(table, v + 1, carried :+ rel)) {
        carryStats(table, v, v + 1, small.map(_._1).toSet, rel)
        // bloom filters fold the same way as range stats: the packed
        // unit's filter is the mergeInPlace-union of the packed
        // filters (pure sidecar arithmetic — packing moves rows, never
        // changes them), untouched entries carry verbatim
        locally {
          val smallSet = small.map(_._1).toSet
          val smallRel = manifestLines(table, v).filter(line =>
            smallSet(java.nio.file.Paths.get(table, line).toString))
          carryBloomAcrossPack(spark, table, v, v + 1, rel, smallRel.toSet,
            r => Parquet.read(spark,
              java.nio.file.Paths.get(table, r).toString).count(),
            0.03)
        }
        // a MoR table's tombstones still apply to the packed raw rows
        // (bin-packing preserves pre-images) — carry the dv sidecar or
        // the compaction would RESURRECT every deleted row at v+1
        val dv = dvLines(table, v)
        if (dv.nonEmpty) writeDeletes(table, v + 1, dv)
        return Some(v + 1)
      }
      Fs.deleteRecursively(root.resolve(rel).toString)
    }
    None // unreachable
  }

  /** Fold a version's cstats sidecar across a compaction: per column,
    * the packed unit's entry is the range-union / count-sum of the
    * packed units' entries — pure sidecar arithmetic, zero data reads,
    * no knowledge of any key column needed — and untouched units carry
    * verbatim. Without this, an OPTIMIZE would orphan the stats layer
    * and break every downstream consumer of it (mergeCow routing,
    * snapshotRangeCol skipping) until the next full stats rebuild. A
    * version without a sidecar carries none; a column that does not
    * cover every packed unit would fold into a LYING range, so then
    * nothing is published.
    */
  private def carryStats(table: String, from: Long, to: Long,
      packedAbs: Set[String], packedRel: String): Unit =
    colStatsOpt(table, from).foreach { cs =>
      val (packed, carried) = cs.partition(s =>
        packedAbs(java.nio.file.Paths.get(table, s.unit).toString))
      val byCol = packed.groupBy(_.col)
      val covered = byCol.values.forall(_.size == packedAbs.size)
      if (byCol.nonEmpty && covered) {
        val folded = byCol.toSeq.sortBy(_._1).map { case (c, ss) =>
          val kind = ss.head.kind
          require(ss.forall(_.kind == kind), s"mixed stat kinds for $c")
          ColStat(packedRel, c, kind,
            ss.map(_.min).reduce((a, b) => if (kindLt(kind, a, b)) a else b),
            ss.map(_.max).reduce((a, b) => if (kindLt(kind, a, b)) b else a),
            ss.map(_.count).sum)
        }
        writeColStats(table, to, carried ++ folded)
      }
    }

  /** Total bytes and file count of a unit (file or directory). */
  private def unitSize(abs: String): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(abs)
    if (java.nio.file.Files.isRegularFile(p))
      (java.nio.file.Files.size(p), 1L)
    else {
      val st = java.nio.file.Files.walk(p)
      try {
        val fs = st.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_)).toVector
        (fs.map(java.nio.file.Files.size).sum, fs.size.toLong)
      } finally st.close()
    }
  }

  /** The manifest's raw relative unit lines for `version`. */
  private def manifestLines(table: String, version: Long): Seq[String] =
    lines(manifest(table, version)).getOrElse(throw new IllegalArgumentException(
      s"$table has no version $version (published: ${versions(table).mkString(",")})"))

  /** DESCRIBE HISTORY: one row per version — commit time, unit count,
    * added/removed unit counts vs the predecessor, outstanding
    * tombstone-unit count, and whether the version is a pure append
    * (the [[incremental]]-consumable class: no removals AND no newly
    * declared merge-on-read deletes — a dv-only delete version must
    * not masquerade as an append in the audit view).
    * O(versions × units) manifest text, zero data I/O.
    */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val vs = versions(table)
    vs.zipWithIndex.map { case (v, i) =>
      val added = addedUnits(table, v).size.toLong
      val removed = removedUnits(table, v).size.toLong
      val dv = dvLines(table, v)
      val prevDv = if (i == 0) Set.empty[String]
        else dvLines(table, vs(i - 1)).toSet
      val newDv = dv.count(u => !prevDv(u)).toLong
      (v, commitTime(table, v).toString, units(table, v).size.toLong,
        added, removed, dv.size.toLong, removed == 0L && newDv == 0L)
    }.toDF("version", "commit_time", "n_units",
      "n_added", "n_removed", "n_dv_units", "is_append")
  }

  /** Publish per-unit BLOOM filters of `colName` for `version` — the
    * point-lookup skipping index for UNCLUSTERED columns, where
    * min/max range stats are useless (every unit's range spans the
    * whole domain). One pass over each unit's single column at
    * publish time (delta-sized when called for a version's new units
    * right after writing them — the write already had the data in
    * cache); the sidecar carries one base64 filter per unit,
    * O(units × bloomBytes) text. Spark's BloomFilter hashes with a
    * fixed seed, so pruning decisions are deterministic for fixed
    * data. Same atomic publish + published-version check as every
    * sidecar. `expectedPerUnit`/`fpp` size the filter (bits ≈
    * -n·ln(fpp)/ln2², the standard formula — callers pass their real
    * per-unit row count for honest sizing).
    */
  def writeBloomStats(spark: SparkSession, table: String, version: Long,
      colName: String, expectedPerUnit: Long, fpp: Double): Unit = {
    val rels = unitsRel(table, version)
    val lines = buildBloomLines(spark, table, rels, colName,
      expectedPerUnit, fpp)
    require(lines.size == rels.size,
      s"bloom build covered ${lines.size} of ${rels.size} units — an " +
        "empty unit has no files to hash; publish its filter explicitly " +
        "or drop the unit from the manifest")
    publishSidecar(table, version, "bloom.txt",
      lines.map(bloomLine(_, colName)).mkString("", "\n", "\n"))
  }

  /** PUBLIC delta-sized bloom publish for an APPEND version: build
    * filters only for `newRels` (the units `to` added) and carry every
    * other unit's entry verbatim from `carryFrom`'s sidecar — publish
    * cost tracks the delta, not the table (at 10⁵ units the
    * [[writeBloomStats]] full-snapshot build is a full-table pass per
    * publish; it stays as the backfill path). Loud where the private
    * maintenance fold is lenient: a missing `carryFrom` sidecar or an
    * uncovered unit of `to` fails the publish instead of silently
    * leaving the new version bloom-less.
    */
  def writeBloomStatsDelta(spark: SparkSession, table: String,
      carryFrom: Long, to: Long, newRels: Seq[String],
      expectedPerUnit: Long, fpp: Double): Unit = {
    require(bloomLines(table, carryFrom).nonEmpty,
      s"$table v$carryFrom has no bloom sidecar to carry from — " +
        "backfill with writeBloomStats first")
    carryBloomStats(spark, table, carryFrom, to, newRels, Set.empty,
      _ => expectedPerUnit, fpp)
    require(java.nio.file.Files.isRegularFile(logFile(table, to, "bloom.txt")),
      s"delta bloom publish for $table v$to left units uncovered — " +
        s"newRels must name every unit absent from v$carryFrom")
  }

  /** Delta-sized bloom publish for a maintenance/append version: build
    * filters ONLY for `newRels` (the version's new units) and carry
    * every other unit's filter verbatim from `carryFrom`'s sidecar —
    * publish cost tracks the DELTA, not the table (the
    * [[writeBloomStats]] full-snapshot build stays as the backfill
    * path). `rewrittenAbsorbed` names the `carryFrom` units whose rows
    * were folded INTO the new units (packed or rewritten) — their old
    * entries are dropped, not carried. Sized by `expectedOf(rel)` so a
    * maintenance caller can pass honest per-unit row counts of the
    * units it just wrote.
    */
  private def carryBloomStats(spark: SparkSession, table: String,
      carryFrom: Long, to: Long, newRels: Seq[String],
      rewrittenAbsorbed: Set[String], expectedOf: String => Long,
      fpp: Double): Unit = {
    val prev = bloomLines(table, carryFrom)
    if (prev.isEmpty) return
    val targetRels = unitsRel(table, to).toSet
    val cols = prev.map(_._2).distinct
    val carried = prev.filter { case (rel, _, _) =>
      targetRels(rel) && !rewrittenAbsorbed(rel)
    }
    // ONE grouped pass per COLUMN over all new units (buildBloomLines'
    // own batching — a per-(unit, column) loop would run touched×cols
    // driver-serialized jobs); sizing by the largest unit is safe,
    // over-sizing a filter only lowers its fpp
    val maxExpected = math.max(1L,
      newRels.map(expectedOf).foldLeft(1L)(math.max))
    val built = cols.flatMap { c =>
      buildBloomLines(spark, table, newRels, c, maxExpected, fpp)
        .map(l => (l._1, c, l._2))
    }
    val all = carried ++ built
    // only publish a sidecar that still answers for EVERY unit of the
    // target snapshot — a partial sidecar would let snapshotBloom skip
    // an uncovered unit and return a silently wrong answer
    if (cols.forall(c => targetRels.forall(r =>
        all.exists(e => e._1 == r && e._2 == c))))
      publishSidecar(table, to, "bloom.txt",
        all.sortBy(e => (e._2, e._1))
          .map { case (rel, c, b64) => bloomLine((rel, b64), c) }
          .mkString("", "\n", "\n"))
  }

  /** Fold a bloom sidecar across a PACK (compaction): the packed
    * unit's filter is the mergeInPlace-union of the packed units'
    * filters — the union of filters IS the filter of the union at
    * fixed params, so this is pure sidecar arithmetic, zero data
    * reads. Untouched entries carry verbatim. If the packed filters
    * were built with incompatible params (mixed sizing generations),
    * the packed unit's filter is REBUILT from its data instead —
    * correctness never depends on the cheap path applying.
    */
  private def carryBloomAcrossPack(spark: SparkSession, table: String,
      from: Long, to: Long, packedRel: String,
      packedAbsorbed: Set[String], expectedOf: String => Long,
      fpp: Double): Unit = {
    val prev = bloomLines(table, from)
    if (prev.isEmpty) return
    val cols = prev.map(_._2).distinct
    val carried = prev.filterNot(e => packedAbsorbed(e._1))
    val packedEntries = cols.flatMap { c =>
      val parts = prev.filter(e => packedAbsorbed(e._1) && e._2 == c)
      if (parts.size != packedAbsorbed.size) Seq.empty // partial → give up col
      else {
        val merged =
          try {
            val fs = parts.map { case (_, _, b64) =>
              org.apache.spark.util.sketch.BloomFilter.readFrom(
                new java.io.ByteArrayInputStream(
                  java.util.Base64.getDecoder.decode(b64)))
            }
            Some(fs.reduce { (a, b) => a.mergeInPlace(b); a })
          } catch {
            case _: org.apache.spark.util.sketch.IncompatibleMergeException =>
              None
          }
        merged match {
          case Some(bf) =>
            val bos = new java.io.ByteArrayOutputStream()
            bf.writeTo(bos)
            Seq((packedRel, c,
              java.util.Base64.getEncoder.encodeToString(bos.toByteArray)))
          case None =>
            buildBloomLines(spark, table, Seq(packedRel), c,
              math.max(1L, expectedOf(packedRel)), fpp)
              .map(l => (l._1, c, l._2))
        }
      }
    }
    val all = carried ++ packedEntries
    val targetRels = unitsRel(table, to).toSet
    if (cols.forall(c => targetRels.forall(r =>
        all.exists(e => e._1 == r && e._2 == c))))
      publishSidecar(table, to, "bloom.txt",
        all.sortBy(e => (e._2, e._1))
          .map { case (rel, c, b64) => bloomLine((rel, b64), c) }
          .mkString("", "\n", "\n"))
  }

  /** One bloom sidecar line, `rel|col|base64` with rel and col
    * URL-encoded (a column name containing '|' must not corrupt the
    * 3-way split at read time — same armor as the cstats sidecar).
    */
  private def bloomLine(e: (String, String), colName: String): String =
    s"${enc(e._1)}|${enc(colName)}|${e._2}"

  /** The decoded `(rel, col, base64)` bloom entries of `version` —
    * empty when the version has no bloom sidecar.
    */
  private def bloomLines(table: String,
      version: Long): Seq[(String, String, String)] =
    lines(logFile(table, version, "bloom.txt")).getOrElse(Seq.empty)
      .map { l => val Array(rel, c, b64) = l.split('|')
        (dec(rel), dec(c), b64) }

  /** Build `(rel, base64-filter)` bloom entries for `rels` — ONE
    * grouped pass over exactly those units (per-FILE groups, folded
    * into units below): one job however many units are asked for,
    * where a per-unit df.stat.bloomFilter loop is one driver-serialized
    * job each — the footerColStats lesson applied to the bloom layer.
    * Values hash through cast('string') + putString; probes must use
    * the same encoding ([[snapshotBloom]]).
    */
  private def buildBloomLines(spark: SparkSession, table: String,
      rels: Seq[String], colName: String, expectedPerUnit: Long,
      fpp: Double): Seq[(String, String)] = {
    import org.apache.spark.sql.functions.{col, input_file_name, udaf}
    if (rels.isEmpty) return Seq.empty
    val bloomAgg = udaf(new graft.functions.Aggregators.BloomAgg(
      expectedPerUnit, fpp))
    val perFile = Parquet.read(spark,
        rels.map(u => java.nio.file.Paths.get(table, u).toString))
      .select(input_file_name().as("__f"), col(colName).cast("string").as("__v"))
      .groupBy("__f").agg(bloomAgg(col("__v")).as("__bf"))
      .collect() // metadata-sized: one serialized filter per data file
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1)))
    // fold file filters into their units: a file belongs to the unit
    // whose path equals it or an ancestor directory of it
    val byAbs = rels.map(rel =>
      java.nio.file.Paths.get(table, rel).toAbsolutePath.normalize -> rel).toMap
    def unitOf(fileUri: String): String = {
      var p = java.nio.file.Paths.get(
        new java.net.URI(fileUri).getPath).toAbsolutePath.normalize
      while (p != null && !byAbs.contains(p)) p = p.getParent
      require(p != null, s"file $fileUri belongs to no requested unit")
      byAbs(p)
    }
    perFile
      .groupBy { case (f, _) => unitOf(f) }
      .toSeq.sortBy(_._1)
      .map { case (rel, files) =>
        val merged = files.map { case (_, bytes) =>
          org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(bytes))
        }.reduce { (a, b) => a.mergeInPlace(b); a }
        val bos = new java.io.ByteArrayOutputStream()
        merged.writeTo(bos)
        (rel, java.util.Base64.getEncoder.encodeToString(bos.toByteArray))
      }
  }

  /** Bloom-pruned point read: scan only the units whose bloom filter
    * says `value` MIGHT be present — "definitely absent" units are
    * skipped at planning time, no footer opened. The complement of
    * range skipping: a point probe on a scattered high-cardinality
    * column (document ids, content digests) prunes to ~1 unit here
    * where min/max stats prune nothing. False positives cost an extra
    * unit scan, never a wrong answer — the probe row filter still
    * applies inside surviving units.
    *
    * Probe-encoding contract: the build hashed each value through
    * Spark's cast-to-string, so the probe must be A VALUE OF THE
    * INDEXED COLUMN'S TYPE — Long/Int/String render identically on
    * both sides, and BigDecimal probes go through toPlainString (the
    * cast rendering for decimals). Probing a DECIMAL column with a
    * Double (\"77.5\" vs the stored \"77.50\") is a caller type error
    * this API cannot detect and WILL false-negative — pass the
    * column's own type.
    */
  def snapshotBloom(spark: SparkSession, table: String, version: Long,
      colName: String, value: Any): (DataFrame, Int) = {
    require(java.nio.file.Files.isRegularFile(logFile(table, version, "bloom.txt")),
      s"$table v$version has no bloom sidecar")
    val entries = bloomLines(table, version).filter(_._2 == colName)
    require(entries.nonEmpty,
      s"$table v$version bloom sidecar has no entries for $colName")
    // the sidecar must answer for EVERY unit of the snapshot — a unit
    // without an entry has no filter to say "maybe", and skipping it
    // would be a silently wrong answer, not a false positive
    val uncovered = unitsRel(table, version).toSet -- entries.map(_._1).toSet
    require(uncovered.isEmpty,
      s"$table v$version bloom sidecar for $colName misses units " +
        s"${uncovered.toSeq.sorted.mkString(",")} — rebuild it")
    val picked = entries.flatMap { case (rel, _, b64) =>
      val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(
          java.util.Base64.getDecoder.decode(b64)))
      // probe with the SAME encoding the build hashed (cast('string')
      // + putString): a raw Long probe would dispatch to
      // mightContainLong and get guaranteed false negatives, and a
      // BigDecimal must render plain (Spark's decimal cast), never
      // scientific notation
      val rendered = value match {
        case d: java.math.BigDecimal => d.toPlainString
        case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
        case other => String.valueOf(other)
      }
      if (bf.mightContainString(rendered))
        Some(java.nio.file.Paths.get(table, rel).toString)
      else None
    }
    if (picked.isEmpty) (snapshot(spark, table, version).limit(0), 0)
    else (Parquet.read(spark, picked), picked.size)
  }

  /** The manifest-relative unit names of `version`. */
  private def unitsRel(table: String, version: Long): Seq[String] =
    manifestLines(table, version)

  /** Public view of the manifest-relative unit names — what stats
    * sidecar entries key on (the absolute-path twin is [[units]]).
    */
  def unitNames(table: String, version: Long): Seq[String] =
    unitsRel(table, version)

  /** The units a `partitionBy(col)` write left under `table/sub`: one
    * manifest-relative `sub/col=value` name per written directory, in
    * ascending NUMERIC order of the value (`b=10` after `b=9`, where a
    * lexical sort would put it after `b=1`). A value with no rows
    * writes no directory and so gets no unit. The values must be
    * integers.
    */
  def partitionUnits(table: String, sub: String, col: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.list(java.nio.file.Paths.get(table, sub))
    try st.iterator().asScala
      .filter(java.nio.file.Files.isDirectory(_))
      .map(_.getFileName.toString).filter(_.startsWith(s"$col="))
      .toVector.sortBy(_.stripPrefix(s"$col=").toLong)
      .map(n => s"$sub/$n")
    finally st.close()
  }

  /** Attach MERGE-ON-READ equality deletes to `version`: the
    * `vNNNNN.dv.txt` sidecar lists tombstone units — parquet files of
    * DELETED KEY VALUES — that [[snapshotMoR]] anti-joins at read
    * time. This is the Iceberg equality-delete / Delta
    * deletion-vector shape reduced to its core: a delete writes
    * O(deleted keys) tombstone data and one sidecar line, NEVER
    * rewriting a data unit; readers pay one anti-join until a
    * compaction applies the tombstones and publishes a clean version
    * (no sidecar). Tombstone units live outside the manifest, so
    * [[snapshot]] (the raw pre-image) and [[incremental]] are
    * untouched by them. [[changes]] IS MoR-aware: the declaring
    * version's feed emits the tombstoned rows as retractions
    * (tombstone keys ⋈ pre-image units), and the compaction that
    * later applies them yields an empty feed — a CDC consumer sees
    * each delete exactly once, at declaration time.
    * [[compact]] carries an outstanding sidecar forward (packing
    * preserves pre-images, so the tombstones still apply);
    * [[mergeCow]] refuses outstanding deletes outright.
    *
    * Same atomic hard-link publish + published-version check as every
    * sidecar: immutable once linked, attachable only to a published
    * version. A version's sidecar carries the FULL tombstone-unit
    * list for that snapshot (cumulative, like the manifest itself) —
    * O(versions-with-deletes) lines, no history replay.
    */
  def writeDeletes(table: String, version: Long,
      tombstoneUnits: Seq[String]): Unit = {
    require(tombstoneUnits.nonEmpty,
      "a delete sidecar must reference at least one tombstone unit — " +
        "a version with no deletes simply publishes no sidecar")
    publishSidecar(table, version, "dv.txt",
      tombstoneUnits.mkString("", "\n", "\n"))
  }

  /** The tombstone units of `version` (absolute paths) — empty when
    * the version carries no merge-on-read deletes.
    */
  def deletes(table: String, version: Long): Seq[String] =
    dvLines(table, version)
      .map(u => java.nio.file.Paths.get(table, u).toString)

  /** Raw (table-relative) dv sidecar lines of `version`. */
  private def dvLines(table: String, version: Long): Seq[String] =
    lines(logFile(table, version, "dv.txt")).getOrElse(Seq.empty)

  /** Read `version` with its merge-on-read deletes APPLIED: the
    * snapshot anti-joined against the union of its tombstone units on
    * `keyCol`. With no sidecar this IS [[snapshot]] — zero overhead
    * on clean versions. The join strategy is deliberately left to the
    * optimizer: the common tombstone set (a GDPR-style delete on a
    * 100 TB table) is tiny and broadcasts, but a bulk delete's
    * key list can be arbitrarily large, and a forced broadcast hint
    * there is a driver OOM — AQE degrades it to a shuffled anti-join
    * instead. The anti-join is the read-amplification a compaction
    * later removes; caller predicates still push down to the data
    * scan through it (PLANS.md round 10).
    */
  def snapshotMoR(spark: SparkSession, table: String, version: Long,
      keyCol: String): DataFrame = {
    val base = snapshot(spark, table, version)
    val tu = deletes(table, version)
    if (tu.isEmpty) base
    else base.join(Parquet.read(spark, tu).select(keyCol).distinct(),
      Seq(keyCol), "left_anti")
  }

  /** The tombstone-unit lines `version` declared that its predecessor
    * did not carry — the dv delta that distinguishes a version which
    * PERFORMED a merge-on-read delete/upsert from one that merely
    * carried an outstanding sidecar forward (a compaction).
    */
  private def newDvLines(table: String, version: Long): Seq[String] = {
    val vs = versions(table)
    val prevDv =
      if (vs.indexOf(version) <= 0) Set.empty[String]
      else dvLines(table, vs(vs.indexOf(version) - 1)).toSet
    dvLines(table, version).filterNot(prevDv)
  }

  /** The version's SEQUENCE-EXEMPT unit names: post-image units its
    * own tombstones must not erase, recorded by [[upsertMoR]] in the
    * `vNNNNN.seq.txt` sidecar. Intent is RECORDED, never inferred — a
    * base version that declares a dv over its own units (a legitimate
    * delete) is structurally identical to an upsert from the manifest
    * alone, so a heuristic on (new dv + added units) would mis-exempt
    * it and resurrect its deleted rows.
    */
  private def seqLines(table: String, version: Long): Seq[String] =
    lines(logFile(table, version, "seq.txt")).getOrElse(Seq.empty)

  /** SEQUENCE-AWARE merge-on-read read — the read path for
    * [[upsertMoR]] versions, and identical to [[snapshotMoR]] on
    * every version without a seq sidecar.
    *
    * Iceberg's rule, collapsed to one commit step: an equality delete
    * applies only to data written BEFORE it. An upsert version's
    * tombstones therefore anti-join the CARRIED units only — the
    * post-image units the same commit added (named by its seq
    * sidecar) are exempt, where a global apply ([[snapshotMoR]])
    * would delete the replacements right back out. Compaction-carried
    * sidecars and plain deletes have no seq sidecar and keep the
    * global-apply semantics (a packed unit holds pre-images, so its
    * carried tombstones MUST apply to it).
    *
    * Scale shape is [[snapshotMoR]]'s: one anti-join whose build side
    * is O(deleted keys), caller predicates still push to the data
    * scans, clean versions read with zero overhead.
    */
  def snapshotMoRSeq(spark: SparkSession, table: String, version: Long,
      keyCol: String): DataFrame = {
    val tu = deletes(table, version)
    val exempt = seqLines(table, version).toSet
    if (tu.isEmpty) snapshot(spark, table, version)
    else if (exempt.isEmpty) snapshotMoR(spark, table, version, keyCol)
    else {
      val (post, pre) = unitsRel(table, version).partition(exempt)
      def abs(rel: Seq[String]) =
        rel.map(u => java.nio.file.Paths.get(table, u).toString)
      val keys = Parquet.read(spark, tu)
        .select(keyCol).distinct()
      Parquet.read(spark, abs(pre)).join(keys, Seq(keyCol), "left_anti")
        .unionByName(Parquet.read(spark, abs(post)))
    }
  }

  /** MERGE-ON-READ upsert: same-key rows of `updates` replace the
    * snapshot's, new keys append — with ZERO existing data read or
    * written. The commit publishes exactly two new objects: one
    * post-image unit (all of `updates`, appended to the manifest) and
    * one tombstone unit of the update KEYS (outside the manifest,
    * attached as the dv sidecar). Readers use [[snapshotMoRSeq]]: the
    * tombstones erase the replaced pre-images from carried units while
    * the post-image unit — added by this same version — is exempt by
    * the sequence rule. A key with no pre-image tombstones nothing
    * (the anti-join finds no match), so inserts need no routing
    * either: the upsert never probes which units a key lives in,
    * which is what makes its write cost O(|updates|) at ANY table
    * size — vs [[mergeCow]]'s O(touched units) rewrite.
    *
    * Contract mirrors mergeCow: `updates` carries the table's columns
    * with unique keys; outstanding deletes must be applied first
    * ([[applyDeletes]]) — stacking a second dv generation would need
    * real per-tombstone sequence tracking, and the one-outstanding-
    * generation rule is exactly Delta's DV-before-DML discipline.
    * The dv sidecar attaches AFTER the manifest commit (sidecars are
    * only attachable to published versions); a crash in that window
    * leaves an append-only version whose post-images coexist with
    * their pre-images — detectable (the orphaned `_keys` unit names
    * the expected sidecar) but not atomic, the documented cost of
    * keeping manifests single-file. The cstats sidecar carries forward
    * with the post-image unit's footer entries appended, so skipping
    * and merge routing survive the upsert. Returns the committed
    * version.
    */
  def upsertMoR(spark: SparkSession, table: String, updates: DataFrame,
      keyCol: String, beforeCommit: () => Unit = () => ()): Long = {
    import org.apache.spark.sql.functions.col
    var hook = beforeCommit
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 10,
        s"upsert on $table lost $attempts commit races — livelock; back off")
      val v = latestVersion(table)
      require(dvLines(table, v).isEmpty,
        s"$table v$v has outstanding merge-on-read deletes — apply them " +
          "(applyDeletes) before stacking another MoR generation")
      val img = f"data/upsert_v${v + 1}%05d_img_$attempts"
      val tomb = f"data/upsert_v${v + 1}%05d_keys_$attempts"
      updates.write.parquet(java.nio.file.Paths.get(table, img).toString)
      updates.select(col(keyCol)).distinct()
        .write.parquet(java.nio.file.Paths.get(table, tomb).toString)
      hook(); hook = () => () // the race window fires once
      if (tryCommit(table, v + 1, unitsRel(table, v) :+ img)) {
        // record the sequence exemption EXPLICITLY: the post-image
        // unit is immune to this version's own tombstones (see
        // seqLines — inferring this from the manifest would mis-read
        // a delete-on-base-version as an upsert). Published BEFORE the
        // dv: a crash between the two leaves seq-without-dv, which
        // reads as a plain append (pre/post images coexist —
        // detectable duplication); dv-without-seq would instead
        // globally erase the post-images — silent data loss.
        publishSidecar(table, v + 1, "seq.txt", img + "\n")
        writeDeletes(table, v + 1, Seq(tomb))
        colStatsOpt(table, v).foreach(cs => writeColStats(table, v + 1,
          cs ++ footerColStats(spark, table, Seq(img), cs.map(_.col).distinct)))
        return v + 1
      }
      Seq(img, tomb).foreach(u =>
        Fs.deleteRecursively(java.nio.file.Paths.get(table, u).toString))
    }
    -1L // unreachable
  }

  /** Apply a version's merge-on-read tombstones and publish a CLEAN
    * version — the maintenance step [[writeDeletes]]' doc promises
    * ("readers pay one anti-join until a compaction applies the
    * tombstones"), and the prerequisite [[mergeCow]]/[[upsertMoR]]
    * point at when they refuse a dv-bearing table.
    *
    * Stats-ROUTED like mergeCow: when every eligible unit has a
    * `keyCol` range ([[keyRanges]]), only units whose [min,max]
    * intersects a tombstone key are rewritten (anti-joined clean);
    * out-of-range units — and, on an upsert version, the
    * sequence-exempt post-image units — are carried by name, never
    * opened, byte-stable. Otherwise every eligible unit rewrites
    * (correct, just unrouted): stats on any other column never route
    * a key. The new version publishes NO dv sidecar, and its
    * [[changes]] feed is EMPTY — pure maintenance: the retractions
    * surfaced at the version that DECLARED the tombstones (the
    * MoR-aware changes() rule), so re-emitting them here would
    * double-delete a folding replica. The cstats sidecar folds forward
    * (carried entries verbatim, rewrite units lifted from their
    * footers). Returns the new version.
    */
  def applyDeletes(spark: SparkSession, table: String,
      keyCol: String): Long = {
    import org.apache.spark.sql.functions.{broadcast, col}
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 10,
        s"applyDeletes on $table lost $attempts commit races — back off")
      val v = latestVersion(table)
      val tu = deletes(table, v)
      require(tu.nonEmpty, s"$table v$v has no merge-on-read deletes to apply")
      // sequence-exempt post-images (an upsert's added units, named by
      // its seq sidecar) carry; everything else is an apply candidate
      val exempt: Set[String] = seqLines(table, v).toSet
      val eligible = unitsRel(table, v).filterNot(exempt)
      val keys = Parquet.read(spark, tu).select(col(keyCol)).distinct()
      // no key range for some eligible unit → no routing: every
      // eligible unit rewrites (correct, just unrouted — the same
      // degradation mergeCow refuses but a maintenance pass can afford)
      val stByUnit = keyRanges(table, v, keyCol).map(s => s._1 -> s).toMap
      val routed = stByUnit.nonEmpty && eligible.forall(stByUnit.contains)
      // tombstones for keys no unit can hold (already-gone keys) leave
      // nothing to rewrite — the clean version is then a pure manifest
      // republish dropping the sidecar
      val touched: Seq[String] =
        if (routed) {
          import spark.implicits._
          val ranges = eligible.zipWithIndex.map { case (u, i) =>
            val (_, mn, mx, _) = stByUnit(u); (i, mn, mx)
          }.toDF("__uid", "__mn", "__mx")
          val ids = keys.join(broadcast(ranges),
              col(keyCol).between(col("__mn"), col("__mx")))
            .select("__uid").distinct()
            .collect().map(_.getInt(0)).toSet // metadata-sized: O(units) routing state
          eligible.zipWithIndex.collect { case (u, i) if ids(i) => u }
        } else eligible
      val newUnits = Seq.newBuilder[String]
      val newCounts = Map.newBuilder[String, Long]
      def writeClean(srcAbs: Seq[String], rel: String): Unit = {
        val abs = java.nio.file.Paths.get(table, rel).toString
        Parquet.read(spark, srcAbs)
          .join(keys, Seq(keyCol), "left_anti")
          .write.parquet(abs)
        // count BEFORE commit (read-back of the just-written small
        // unit): a rewrite the tombstones fully emptied has no footer
        // stats to publish and no reason to live in the manifest
        val n = Parquet.read(spark, abs).count()
        if (n == 0L) Fs.deleteRecursively(abs)
        else { newUnits += rel; newCounts += rel -> n }
      }
      if (routed)
        // ONE REWRITE PER TOUCHED UNIT: each clean unit's key range is
        // a subset of its source's, so the stats layout stays disjoint
        // and the next mergeCow still routes (a collapsed rewrite of
        // non-adjacent touched units would span the carried units
        // between them). O(touched) delta-sized jobs.
        touched.zipWithIndex.foreach { case (u, i) =>
          writeClean(Seq(java.nio.file.Paths.get(table, u).toString),
            f"data/apply_v${v + 1}%05d_rw${i}_$attempts")
        }
      else if (touched.nonEmpty)
        // unrouted (no key ranges): nothing preserves ranges anyway
        // — one collapsed rewrite keeps this degraded path O(1) jobs
        writeClean(touched.map(u => java.nio.file.Paths.get(table, u).toString),
          f"data/apply_v${v + 1}%05d_$attempts")
      val carried = eligible.filterNot(touched.contains)
      if (tryCommit(table, v + 1,
          carried ++ exempt.toSeq.sorted ++ newUnits.result())) {
        colStatsOpt(table, v).foreach(cs => writeColStats(table, v + 1,
          cs.filterNot(s => touched.contains(s.unit)) ++
            footerColStats(spark, table, newUnits.result(),
              cs.map(_.col).distinct)))
        // bloom skipping survives the apply: carried entries verbatim,
        // rewritten units rebuilt delta-only (their content shrank — a
        // carried filter would answer "maybe" for every deleted key)
        val ns = newCounts.result()
        carryBloomStats(spark, table, v, v + 1, newUnits.result(),
          touched.toSet, r => ns.getOrElse(r, 1L), 0.03)
        return v + 1
      }
      newUnits.result().foreach(u =>
        Fs.deleteRecursively(java.nio.file.Paths.get(table, u).toString))
    }
    -1L // unreachable
  }

  /** CDC feed of `version`: the row-level changes it applied relative
    * to its predecessor, as the snapshot's columns plus
    * `_change_type` ('insert' | 'delete'). An update surfaces as a
    * delete of the old row plus an insert of the new one (the
    * pre/post-image pair of the lakehouse CDC feeds).
    *
    * Computed as a symmetric MULTISET diff over only the touched
    * units: each added row weighs +1, each removed row −1, and ONE
    * row-keyed aggregate sums the weights — positive net counts
    * replicate out as inserts, negative as deletes. Unchanged rows
    * that merely moved files cancel to 0 — an OPTIMIZE/clustering
    * version (pure rewrite, same content) therefore yields an EMPTY
    * feed, which is exactly the rewrite-without-change detection a
    * downstream consumer needs so maintenance commits don't replay
    * the table at it. This closes the gap [[incremental]]'s guard
    * advertises: versions that remove units are fully consumable.
    *
    * Scale: cost is O(touched units), never O(table) — untouched
    * units are not read, and the signed-weight formulation reads each
    * touched side ONCE through a single partial-agg exchange (the
    * naive a.exceptAll(r) ∪ r.exceptAll(a) plan scans and shuffles
    * every touched unit twice); a version touching one side only needs
    * no exchange at all. Schema evolution: both sides are read
    * mergeSchema and aligned to the version's evolved column set, so a
    * column born in this version reads as null on the removed side.
    */
  def changes(spark: SparkSession, table: String, version: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val added = addedUnits(table, version)
    val removed = removedUnits(table, version)
    // the diff's column universe is the TOUCHED units' merged schema —
    // never the full snapshot's, whose mergeSchema planning would read
    // one footer per table unit and make the feed O(table) at 10⁵
    // units (measured: 100-version history cost 1.6× the 10-version
    // one through the full-snapshot path, 1.0× through this one)
    val schemaSrc =
      if (added.nonEmpty || removed.nonEmpty)
        Parquet.read(spark, added ++ removed, mergeSchema = true).limit(0)
      else snapshotEvolved(spark, table, version).limit(0)
    def read(us: Seq[String]): DataFrame =
      if (us.isEmpty) schemaSrc
      else Parquet.read(spark, us, mergeSchema = true)
    def align(df: DataFrame): DataFrame =
      df.select(schemaSrc.schema.map { f =>
        if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    import org.apache.spark.sql.functions.{broadcast, explode, expr, sum, when}
    val a = align(read(added))
    val r = align(read(removed))
    val cols = schemaSrc.columns.toSeq
    // a version that removes no unit (an append, an upsert's data
    // side) or adds none (a pure unit removal) has one side only: the
    // diff IS that side, duplicates included, with no keyed exchange
    val diff =
      if (removed.isEmpty) a.withColumn("_change_type", lit("insert"))
      else if (added.isEmpty) r.withColumn("_change_type", lit("delete"))
      else a.withColumn("__w", lit(1L))
        .unionAll(r.withColumn("__w", lit(-1L)))
        .groupBy(cols.map(col): _*).agg(sum(col("__w")).as("__n"))
        .filter(col("__n") =!= 0)
        .withColumn("_change_type",
          when(col("__n") > 0, "insert").otherwise("delete"))
        // net multiset count > 1 means the version added (or removed)
        // genuine duplicate rows — replicate them out like exceptAll
        .withColumn("__i", explode(expr("sequence(1L, abs(__n))")))
        .select(cols.map(col) :+ col("_change_type"): _*)
    // MERGE-ON-READ AWARENESS — the feed surfaces a MoR delete at the
    // version that DECLARES it, not at the compaction that later
    // applies it (the consumer caveat the r10 dv.txt doc carried, now
    // closed):
    //  1. A version declaring NEW tombstones emits their retractions:
    //     tombstone keys ⋈ the pre-image units (the snapshot minus the
    //     same commit's sequence-exempt post-images) as change_type
    //     'delete'. An upsert therefore reads as delete(pre) +
    //     insert(post) in ONE version — the lakehouse pre/post-image
    //     pair. The tombstone unit's schema names the key column, so
    //     the feed needs no key parameter.
    //  2. The APPLY version (predecessor carried tombstones, this one
    //     is clean) suppresses the physically-removed tombstoned rows
    //     — the consumer already saw those deletes at declaration, and
    //     re-emitting them would double-delete a folding replica. Its
    //     feed is empty, like any other pure-maintenance commit.
    val newDv = newDvLines(table, version)
    val withRetract =
      if (newDv.isEmpty) diff
      else {
        val exempt = seqLines(table, version).toSet
        val preRel = unitsRel(table, version).filterNot(exempt)
        val keys = Parquet.read(spark,
          newDv.map(u => java.nio.file.Paths.get(table, u).toString))
          .distinct()
        // STATS-ROUTED pre-image read (the applyDeletes discipline):
        // when the single tombstone column has a key range for every
        // pre-image unit ([[keyRanges]] — stats on any other column,
        // such as an index table's bucket ids, never route a key: doc
        // tombstones routed through bucket ids would silently drop
        // most retractions from the feed), only units whose key range
        // holds at least one tombstone key are opened — a GDPR batch
        // confined to 2 of 10⁵ units costs 2 units of pre-image I/O,
        // never a table scan. One extra keyed job over the (small)
        // tombstone set buys the pruning; every other case reads every
        // pre-image unit, the only sound answer without key ranges.
        val keyIsIntegral = keys.schema.fields.headOption.exists(f =>
          f.dataType == org.apache.spark.sql.types.LongType ||
            f.dataType == org.apache.spark.sql.types.IntegerType)
        val stByUnit =
          if (keys.columns.size == 1 && keyIsIntegral)
            keyRanges(table, version, keys.columns.head)
              .map(s => s._1 -> s).toMap
          else Map.empty[String, (String, Long, Long, Long)]
        val routedRel =
          if (stByUnit.nonEmpty && preRel.forall(stByUnit.contains)) {
            import spark.implicits._
            val ranges = preRel.map(stByUnit).zipWithIndex
              .map { case ((u, mn, mx, _), i) => (i, u, mn, mx) }
              .toDF("__i", "__u", "__mn", "__mx")
            keys.join(broadcast(ranges),
                col(keys.columns.head).between(col("__mn"), col("__mx")))
              .select("__u").distinct()
              .collect().map(_.getString(0)) // metadata-sized: touched unit names
              .toSeq.sorted
          } else preRel
        val preAbs = routedRel
          .map(u => java.nio.file.Paths.get(table, u).toString)
        if (preAbs.isEmpty) diff
        else diff.unionByName(
          align(read(preAbs)).join(keys, keys.columns.toSeq, "left_semi")
            .withColumn("_change_type", lit("delete"))
            .select(cols.map(col) :+ col("_change_type"): _*))
      }
    val vs = versions(table)
    val prevDvApplied = vs.indexOf(version) > 0 &&
      dvLines(table, version).isEmpty &&
      dvLines(table, vs(vs.indexOf(version) - 1)).nonEmpty
    if (!prevDvApplied) withRetract
    else {
      val tombKeys = Parquet.read(spark,
        deletes(table, vs(vs.indexOf(version) - 1))).distinct()
      withRetract.filter(col("_change_type") === "insert").unionByName(
        withRetract.filter(col("_change_type") === "delete")
          .join(tombKeys, tombKeys.columns.toSeq, "left_anti"))
    }
  }

  /** Fold `version`'s CDC feed into the persisted replica under
    * `stateDir` and return the path of the replica state current as
    * of `version` — THE materialized per-version consumption loop
    * every downstream replica runs (state_v = state_prev minus delete
    * rows plus insert rows, multiset semantics; an EMPTY feed — a
    * maintenance version — carries the previous state untouched).
    * Materializing per version keeps every job's plan O(1) deep at
    * any history length, where the lazy exceptAll/unionAll tree
    * re-analyzes its whole history each step.
    *
    * REPLAY-SAFE, the property a foreachBatch consumer needs: a state
    * that already exists for `version` is returned as-is (folds are
    * deterministic), and a fresh fold writes to a temp dir published
    * by ATOMIC move — a crashed attempt can never pass for a
    * completed one, and a concurrent twin losing the move just
    * adopts the winner's state.
    */
  def replayInto(spark: SparkSession, table: String, version: Long,
      stateDir: String): String = {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Paths.get(stateDir)
    java.nio.file.Files.createDirectories(dir)
    val out = dir.resolve(s"v$version")
    if (java.nio.file.Files.isDirectory(out)) return out.toString
    val prev = replayStates(stateDir).filter(_ < version).lastOption
      .map(v => dir.resolve(s"v$v").toString)
    val ch = changes(spark, table, version)
    prev match {
      case Some(p) if ch.isEmpty => return p // maintenance: carry
      case _ => ()
    }
    val ins = ch.filter(col("_change_type") === "insert")
      .drop("_change_type")
    val del = ch.filter(col("_change_type") === "delete")
      .drop("_change_type")
    val tmp = dir.resolve(s".v$version.${java.util.UUID.randomUUID}.tmp")
    (prev match {
      case None => ins
      case Some(p) => Parquet.read(spark, p).exceptAll(del).unionAll(ins)
    }).write.parquet(tmp.toString)
    try java.nio.file.Files.move(tmp, out,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Fs.deleteRecursively(tmp.toString) // a concurrent twin won
    }
    out.toString
  }

  /** The version numbers with a published replica state under
    * `stateDir` (ascending) — [[replayInto]]'s bookkeeping, public so
    * a resuming consumer can find where it left off.
    */
  def replayStates(stateDir: String): Seq[Long] = {
    val dir = java.nio.file.Paths.get(stateDir)
    if (!java.nio.file.Files.isDirectory(dir)) return Seq.empty
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.list(dir)
    try st.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toLong).toVector.sorted
    finally st.close()
  }

  /** What [[vacuum]] actually did: `unitsDeleted` fully-reclaimed data
    * units, `filesDeleted` files/dirs removed inside them,
    * `failedPaths` paths the filesystem refused to delete (surfaced,
    * never swallowed — a retention protocol that miscounts reclaimed
    * storage is lying to its capacity planner), and `skippedExternal`
    * expired units that resolve OUTSIDE the table root and were
    * therefore refused.
    */
  final case class VacuumReport(unitsDeleted: Long, filesDeleted: Long,
      failedPaths: Seq[String], skippedExternal: Seq[String])

  /** Is `unit` (a manifest-relative path) strictly under `table`'s
    * root once `..` segments resolve? Shallow clones publish manifests
    * whose units point INTO THE SOURCE table via `../` paths — legal
    * to read, but never this table's storage to reclaim.
    */
  private[graft] def ownsUnit(table: String, unit: String): Boolean = {
    val root = java.nio.file.Paths.get(table).toAbsolutePath.normalize
    val p = java.nio.file.Paths.get(table, unit).toAbsolutePath.normalize
    p.startsWith(root) && p != root
  }

  /** VACUUM: delete every data unit not referenced by any version in
    * `retain`, and drop the manifests of the non-retained versions —
    * the retention-expiry maintenance op of the lakehouse formats.
    * Non-retained versions become unreadable (that is the point:
    * reclaiming their exclusive storage); retained versions are
    * untouched — a unit shared by a retained and an expired version
    * survives.
    *
    * OWNERSHIP RULE (ADVICE r9): vacuum only ever deletes paths
    * strictly under the table root. A shallow clone's manifest
    * references the SOURCE table's units by `../`-relative path;
    * resolving and deleting those here would be cross-table data loss
    * (Delta's vacuum has the same guard — it walks the table dir, so
    * foreign absolute paths are unreachable by construction). Such
    * units are reported in `skippedExternal`, and the inverse hazard —
    * a SOURCE vacuum reclaiming units a clone still references — is
    * the documented contract: a clone borrows storage it does not own,
    * so the source's retention wins; clone before you vacuum, or keep
    * the source versions a clone pins in the source's retain set.
    */
  def vacuum(table: String, retain: Seq[Long]): VacuumReport = {
    val all = versions(table)
    require(retain.nonEmpty && retain.forall(all.contains),
      s"retain set ${retain.mkString(",")} must be published versions (${all.mkString(",")})")
    // tombstone units ride the retention protocol too: a retained
    // version's MoR deletes must survive (dropping them would
    // resurrect its deleted rows), an expired-exclusive tombstone is
    // reclaimable storage like any data unit. Staged-branch units are
    // equally live: a WAP batch awaiting its audit is referenced by no
    // version manifest YET — vacuuming it out from under the audit
    // would turn the later publish into a dangling manifest.
    val keep = (retain.flatMap(v => units(table, v) ++ deletes(table, v)) ++
      stagedBranches(table).flatMap(b => stagedUnits(table, b))
        .map(u => java.nio.file.Paths.get(table, u).toString)).toSet
    val expired = all.filterNot(retain.contains)
    val dead = expired.flatMap(v => units(table, v) ++ deletes(table, v))
      .distinct.filterNot(keep)
    val root = java.nio.file.Paths.get(table).toAbsolutePath.normalize
    val (owned, external) = dead.partition { u =>
      // units() returns resolved paths — re-check against the
      // normalized root, refusing anything `..` walks out
      val p = java.nio.file.Paths.get(u).toAbsolutePath.normalize
      p.startsWith(root) && p != root
    }
    var unitsDeleted = 0L
    var filesDeleted = 0L
    val failed = Vector.newBuilder[String]
    owned.foreach { u =>
      val (n, f) = Fs.deleteRecursively(u)
      filesDeleted += n
      if (f.isEmpty) unitsDeleted += 1 else failed ++= f
    }
    expired.foreach { v =>
      java.nio.file.Files.delete(manifest(table, v))
      // reclaim the expired version's sidecars too — an orphan sidecar
      // would let colStats() answer for a version that no longer exists
      Sidecars.foreach(sfx =>
        java.nio.file.Files.deleteIfExists(logFile(table, v, sfx)))
    }
    VacuumReport(unitsDeleted, filesDeleted, failed.result(), external)
  }

  /** What [[purgeKeys]] did: rows physically removed, units rewritten
    * to purged twins, units dropped outright (every row purged), and
    * versions whose manifest was swapped.
    */
  final case class PurgeReport(rowsPurged: Long, unitsRewritten: Long,
      unitsDropped: Long, versionsTouched: Long)

  /** RIGHT-TO-BE-FORGOTTEN purge: physically remove every row whose
    * `keyCol` is in `keys` from EVERY published version — the one
    * sanctioned HISTORY REWRITE (ref: n/a, SURVEY §0; the GDPR-erasure
    * problem the lakehouse formats answer with "vacuum your history" —
    * this keeps time travel alive for every surviving row instead).
    *
    * Mechanics: the distinct data units across all manifests (plus all
    * tombstone units — a dv entry carrying a purged key is personal
    * data too, and dropping key k from BOTH the data and the delete
    * side leaves every other key's MoR semantics untouched) are
    * scanned ONCE to find the dirty subset; each dirty unit is
    * rewritten to a purged twin exactly once no matter how many
    * versions reference it; then every manifest (and dv/seq/cstats/
    * bloom sidecar, and staged-branch marker) is atomically swapped to the
    * twin mapping, and the dirty originals are deleted. Per-version
    * cstats entries for rewritten units are re-derived from the twins'
    * parquet footers on every tracked column (a bucket-homogeneous
    * index unit re-derives its own bucket id, with the count
    * re-measured); carried units keep their lines verbatim.
    *
    * Cost: one scan of the distinct historical units + O(dirty)
    * rewrites + O(versions) metadata swaps — never O(versions × data).
    *
    * Crash semantics: each manifest/sidecar swap is an atomic rename,
    * so readers always see a consistent version; a crash mid-purge
    * leaves a mix of purged and unpurged VERSIONS and possibly
    * not-yet-deleted originals — rerunning completes the manifest
    * swaps (idempotent: still-referenced dirty units are re-found,
    * and twins are named by (unit, request-fingerprint), so a rerun
    * of the SAME purge regenerates the SAME twin names instead of
    * nanoTime-fresh ones), and [[vacuum]]-style reclamation applies
    * to any orphaned original. Refuses a purge that would empty any
    * version's manifest entirely.
    *
    * Index sidecars SURVIVE the purge (round 12 — they used to be a
    * refusal): per-version cstats entries for rewritten units are
    * re-derived from the twins' parquet footers (clean units' lines
    * carry verbatim), and bloom filters for rewritten units are
    * REBUILT from the twins' data (a filter cannot "subtract" the
    * purged keys — bits are shared), sized by the twin's actual row
    * count at fpp 1e-2; sizing differences against the original
    * publish only move the false-positive rate, never correctness.
    * So [[snapshotBloom]]/[[snapshotRangeCol]] keep pruning — and
    * keep their no-false-negative contract — straight through a GDPR
    * erasure.
    */
  def purgeKeys(spark: SparkSession, table: String, keyCol: String,
      keys: Seq[Long]): PurgeReport = {
    require(keys.nonEmpty, "purge needs at least one key")
    purgeKeys(spark, table, keyCol,
      spark.createDataset(keys)(org.apache.spark.sql.Encoders.scalaLong)
        .toDF("__pk"))
  }

  /** Frame-keyed purge — the production entry point: a realistic
    * erasure batch is 10⁵–10⁶ keys, which must reach the scans as a
    * BROADCAST hash side (semi-join for the dirty-unit probe,
    * anti-join for the twin rewrite), never as a million-element
    * `isin` literal the analyzer has to fold (ADVICE/VERDICT r11).
    * `keysDf`'s first column is cast to BIGINT and deduplicated; rows
    * whose `keyCol` is NULL are never purged (NULL is not in any key
    * list — note the old `!isin` formulation silently dropped them).
    */
  def purgeKeys(spark: SparkSession, table: String, keyCol: String,
      keysDf: DataFrame): PurgeReport = {
    import org.apache.spark.sql.functions.{broadcast, col, count, expr,
      input_file_name, lit}
    val vs = versions(table)
    require(vs.nonEmpty, s"$table has no published versions")
    // materialize the distinct key frame ONCE — every subsequent
    // broadcast re-plans from the checkpointed blocks, not from an
    // arbitrary (possibly expensive) source plan
    val kd = keysDf
      .select(col(keysDf.columns.head).cast("long").as("__pk"))
      .distinct().localCheckpoint()
    // order-independent request fingerprint (xor of per-key hashes +
    // count): twins of the SAME logical purge get the SAME names on
    // any rerun — the idempotence the old nanoTime naming defeated
    val fp = kd.agg(expr("bit_xor(xxhash64(__pk)) AS h"),
      count(lit(1)).as("n")).head()
    require(!fp.isNullAt(0) && fp.getLong(1) > 0L,
      "purge needs at least one non-null key")
    val reqHash = f"${fp.getLong(0)}%016x${fp.getLong(1)}%x"
    val dataRels = vs.flatMap(v => manifestLines(table, v)).distinct
    val dvRels = vs.flatMap(v => dvLines(table, v)).distinct
    val allRels = (dataRels ++ dvRels).distinct
    val byAbs = allRels.map(rel =>
      java.nio.file.Paths.get(table, rel).toAbsolutePath.normalize -> rel).toMap
    def unitOf(fileUri: String): String = {
      var p = java.nio.file.Paths.get(
        new java.net.URI(fileUri).getPath).toAbsolutePath.normalize
      while (p != null && !byAbs.contains(p)) p = p.getParent
      require(p != null, s"file $fileUri belongs to no historical unit")
      byAbs(p)
    }
    // ONE scan over the distinct historical units finds the dirty set
    // and the per-unit purge counts; the key set rides as a broadcast
    // semi-join hash, never a literal list. The scan REQUESTS exactly
    // one column — `keyCol` at BIGINT (the purge-key contract type) —
    // which makes every generation mix readable in one pass: files
    // whose physical key is narrower (an un-widened INT generation)
    // up-convert in the reader, files MISSING the column entirely (an
    // index table's keyless 1-row meta units) resolve it as NULL,
    // which never matches a key. Schema inference or mergeSchema
    // would instead fail on the int/long split a widenColumn table
    // legitimately carries (Round12OpsSpec pins this composition).
    val keyOnly = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(keyCol,
        org.apache.spark.sql.types.LongType, true)))
    val hits = spark.read.schema(keyOnly)
      .parquet(allRels.map(u => java.nio.file.Paths.get(table, u).toString): _*)
      .select(input_file_name().as("__f"), col(keyCol).as("__k"))
      .join(broadcast(kd), col("__k") === col("__pk"), "left_semi")
      .groupBy("__f").agg(count(lit(1)).as("n"))
      .collect() // metadata-sized: one row per data FILE containing purge keys
      .map(r => unitOf(r.getString(0)) -> r.getLong(1))
    // rowsPurged counts DATA rows only (ADVICE r12): a key present in
    // both a data unit and a delete-vector sidecar would otherwise be
    // double-counted — dv units are rewritten too, but their rows are
    // tombstone METADATA, not erased data.
    val dataSet = dataRels.toSet
    val rowsPurged = hits.filter(h => dataSet(h._1)).map(_._2).sum
    val dirty = hits.map(_._1).distinct.toSeq.sorted
    if (dirty.isEmpty)
      return PurgeReport(0L, 0L, 0L, 0L)
    // rewrite each dirty unit ONCE to its purged twin; a unit whose
    // every row is purged maps to None (dropped from all manifests)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(table, "purged"))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"$b%02x").mkString
    // rel -> None (fully purged) | Some((twin, survivorRowCount))
    val rewritten: Seq[(String, Option[(String, Long)])] = dirty.map { rel =>
      val abs = java.nio.file.Paths.get(table, rel).toString
      val survivors = Parquet.read(spark, abs)
        .join(broadcast(kd), col(keyCol) === col("__pk"), "left_anti")
      if (survivors.isEmpty) rel -> None
      else {
        // deterministic name: (unit, request fingerprint) — rerunning
        // the same purge after a crash regenerates the same twin
        val twin = s"purged/p${md5hex(s"$rel|$reqHash").take(16)}"
        val twinAbs = java.nio.file.Paths.get(table, twin).toString
        survivors.write.mode("overwrite").parquet(twinAbs)
        // footer-metadata count of the fresh twin (no data pages) —
        // sizes the bloom rebuild honestly
        rel -> Some((twin, Parquet.read(spark, twinAbs).count()))
      }
    }
    val byRel = rewritten.toMap
    val twinOf: Map[String, Option[String]] =
      rewritten.map { case (r, o) => r -> o.map(_._1) }.toMap
    def remap(lines: Seq[String]): Seq[String] =
      lines.flatMap(l => twinOf.get(l) match {
        case None => Some(l) // clean unit: carried verbatim
        case Some(Some(t)) => Some(t)
        case Some(None) => None // fully-purged unit: dropped
      })
    // validate BEFORE mutating anything: no version may end up empty
    vs.foreach { v =>
      require(remap(manifestLines(table, v)).nonEmpty,
        s"purge would empty version $v of $table — delete the table " +
          "instead of purging its entire content")
    }
    // Pre-derive every rewritten unit's replacement cstats entries
    // ONCE (a twin shared by many versions must not be re-measured per
    // version): the union of columns any version's sidecar tracked for
    // it, footer-read in one distributed batch per distinct column set.
    val colsFor: Map[String, Set[String]] =
      vs.flatMap(v => colStatsOpt(table, v).getOrElse(Seq.empty)
          .filter(s => twinOf.get(s.unit).exists(_.isDefined))
          .map(s => s.unit -> s.col))
        .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
    val derived: Map[(String, String), ColStat] = rewritten
      .collect { case (rel, Some((t, _))) => rel -> t }
      .groupBy { case (rel, _) => colsFor.getOrElse(rel, Set.empty[String]) }
      .iterator.flatMap {
        case (cols, grp) if cols.nonEmpty =>
          val byTwin = footerColStats(spark, table, grp.map(_._2), cols.toSeq)
            .groupBy(_.unit)
          grp.flatMap { case (rel, t) =>
            byTwin(t).map(s => (rel, s.col) -> s) }
        case _ => Nil
      }.toMap
    // Bloom filters cannot subtract keys — REBUILD each rewritten
    // unit's filter from its twin's data, one grouped pass per indexed
    // column across all twins needing it (the carryBloomStats batching
    // shape). Sized by the twin's actual row count at fpp 1e-2.
    val bloomNeeded: Seq[(String, String)] =
      vs.flatMap(v => bloomLines(table, v).collect {
        case (rel, c, _) if twinOf.get(rel).exists(_.isDefined) => (rel, c)
      }).distinct
    val bloomRebuilt: Map[(String, String), String] = bloomNeeded
      .groupBy(_._2).iterator.flatMap { case (c, prs) =>
        val rels = prs.map(_._1)
        val twins = rels.map(r => byRel(r).get._1)
        val maxExpected = rels.map(r => byRel(r).get._2).foldLeft(1L)(math.max)
        val built = buildBloomLines(spark, table, twins, c, maxExpected,
          0.01).toMap
        prs.map { case (rel, _) => (rel, c) -> built(byRel(rel).get._1) }
      }.toMap
    def swap(path: java.nio.file.Path, content: Seq[String]): Unit = {
      val tmp = path.resolveSibling(
        s".${path.getFileName}.${java.util.UUID.randomUUID}.tmp")
      java.nio.file.Files.writeString(tmp, content.mkString("", "\n", "\n"))
      java.nio.file.Files.move(tmp, path,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    var versionsTouched = 0L
    vs.foreach { v =>
      val oldLines = manifestLines(table, v)
      val newLines = remap(oldLines)
      val touched = newLines != oldLines
      if (touched) swap(manifest(table, v), newLines)
      // dv sidecar: tombstone units purged like data units; an emptied
      // sidecar is deleted (reads then take the clean path)
      val dv = dvLines(table, v)
      if (dv.nonEmpty && remap(dv) != dv) {
        val f = logFile(table, v, "dv.txt")
        val nd = remap(dv)
        if (nd.isEmpty) java.nio.file.Files.delete(f) else swap(f, nd)
      }
      // seq sidecar names post-image units — remap to the twins
      val sq = seqLines(table, v)
      if (sq.nonEmpty && remap(sq) != sq)
        swap(logFile(table, v, "seq.txt"), remap(sq))
      // cstats sidecar: carried lines verbatim, rewritten units
      // re-derived from the twins' footers on every tracked column,
      // dropped units removed — the index keeps pruning and routing
      // after the purge
      if (touched) colStatsOpt(table, v).foreach { cs =>
        swap(logFile(table, v, "cstats.txt"), cs.flatMap { st =>
          twinOf.get(st.unit) match {
            case None => Some(st)
            case Some(Some(_)) => Some(derived((st.unit, st.col)))
            case Some(None) => None
          }
        }.map(colStatLine))
      }
      // bloom sidecar: carried filters verbatim, rewritten units'
      // filters swapped for the twin rebuilds, dropped units removed
      val bFile = logFile(table, v, "bloom.txt")
      if (touched && java.nio.file.Files.isRegularFile(bFile)) {
        val newB = bloomLines(table, v).flatMap { case (rel, c, b64) =>
          twinOf.get(rel) match {
            case None => Some((rel, c, b64))
            case Some(Some(t)) => Some((t, c, bloomRebuilt((rel, c))))
            case Some(None) => None
          }
        }
        swap(bFile, newB.sortBy(e => (e._2, e._1))
          .map { case (rel, c, b64) => bloomLine((rel, b64), c) })
      }
      if (touched) versionsTouched += 1
    }
    // staged branches reference units by name too
    stagedBranches(table).foreach { b =>
      val us = stagedUnits(table, b)
      if (remap(us) != us && remap(us).nonEmpty)
        swap(branchFile(table, b), remap(us))
    }
    // finally: the dirty originals still hold the purged rows — delete
    var dropped = 0L
    dirty.foreach { rel =>
      if (ownsUnit(table, rel))
        Fs.deleteRecursively(java.nio.file.Paths.get(table, rel).toString)
      if (twinOf(rel).isEmpty) dropped += 1
    }
    PurgeReport(rowsPurged, dirty.size - dropped, dropped, versionsTouched)
  }

  // ------------------------------------------------------------------
  // COLUMN MAPPING — metadata-only renames (ref: n/a, SURVEY §0; the
  // Delta column-mapping / Iceberg name-mapping idea reduced to its
  // core). Parquet files carry PHYSICAL column names frozen at write
  // time; a rename publishes a sidecar mapping physical -> logical and
  // commits the SAME units as a new version — zero data bytes move,
  // which is the only rename a 100 TB table can afford. The mapping
  // carries forward until a later rename supersedes it, so time travel
  // is name-faithful: version V reads under the names V was published
  // with.
  // ------------------------------------------------------------------

  /** The full column-mapping state in force at a version: logical
    * RENAMES (physical -> logical), DROPPED physical columns
    * (invisible to mapped reads, zero data rewritten), and WIDENED
    * physical columns (physical -> the logical DDL type mapped reads
    * request — the files keep their frozen narrow type; Spark's
    * parquet readers up-convert under the wider requested schema).
    */
  final case class ColMapping(renames: Map[String, String],
      dropped: Set[String], widened: Map[String, String],
      added: Map[String, (String, String)] = Map.empty) {
    def isEmpty: Boolean = renames.isEmpty && dropped.isEmpty &&
      widened.isEmpty && added.isEmpty
  }

  private val EmptyMapping = ColMapping(Map.empty, Set.empty, Map.empty)

  /** Publish the physical->logical column map sidecar of `version`.
    * The map lists ONLY renamed columns (identity entries are
    * dropped); names are URL-encoded so a '|' in a column name cannot
    * shear the line format (the bloom-sidecar lesson, ADVICE r10).
    */
  def writeColMap(table: String, version: Long,
      map: Seq[(String, String)]): Unit =
    writeColMapping(table, version,
      ColMapping(map.toMap, Set.empty, Map.empty))

  /** Line grammar (fields URL-encoded, so the RAW markers below can
    * never collide with a real name): `P|L` rename, `P|!drop` dropped
    * (raw `!drop` — an encoded column named "!drop" renders `%21drop`),
    * `P|L|T` logical name L (possibly = P) read at widened DDL type T,
    * `N|!add|T|D` column N added with DDL type T and default SQL
    * literal D (files written before the add surface D; files after
    * it carry N physically).
    */
  private def writeColMapping(table: String, version: Long,
      m: ColMapping): Unit = {
    val phys = (m.renames.keySet ++ m.dropped ++ m.widened.keySet).toSeq.sorted
    val entries = phys.map { p =>
      if (m.dropped(p)) s"${enc(p)}|!drop"
      else m.widened.get(p) match {
        case Some(t) =>
          s"${enc(p)}|${enc(m.renames.getOrElse(p, p))}|${enc(t)}"
        case None => s"${enc(p)}|${enc(m.renames(p))}"
      }
    } ++ m.added.toSeq.sortBy(_._1).map { case (n, (t, dflt)) =>
      s"${enc(n)}|!add|${enc(t)}|${enc(dflt)}"
    }
    publishSidecar(table, version, "colmap.txt",
      entries.mkString("", "\n", "\n"))
  }

  /** The full mapping in force AT `version`: the newest colmap sidecar
    * published at or before it (a mapping persists across later data
    * commits until a later evolution replaces it wholesale). Empty =
    * identity, the state of every table that never evolved.
    * O(versions) file-existence probes, metadata only.
    */
  def colMappingAt(table: String, version: Long): ColMapping =
    versions(table).filter(_ <= version).reverse.iterator
      .flatMap(v => lines(logFile(table, v, "colmap.txt")))
      .nextOption()
      .map { ls =>
        val entries = ls.map(_.split('|'))
        ColMapping(
          renames = entries.collect {
            case Array(p, l) if l != "!drop" && dec(l) != dec(p) =>
              dec(p) -> dec(l)
            case Array(p, l, _) if l != "!add" && dec(l) != dec(p) =>
              dec(p) -> dec(l)
          }.toMap,
          dropped = entries.collect {
            case Array(p, "!drop") => dec(p) }.toSet,
          widened = entries.collect {
            case Array(p, l, t) if l != "!add" => dec(p) -> dec(t) }.toMap,
          added = entries.collect {
            case Array(n, "!add", t, dflt) => dec(n) -> (dec(t), dec(dflt))
          }.toMap)
      }.getOrElse(EmptyMapping)

  /** The physical->logical RENAME map at `version` (drops and widens
    * excluded) — the original round-11 surface, kept for rename-only
    * consumers.
    */
  def colMapAt(table: String, version: Long): Map[String, String] =
    colMappingAt(table, version).renames

  /** RENAME COLUMN as a metadata-only commit: publish version+1 with
    * the CURRENT snapshot's units verbatim plus a colmap sidecar whose
    * map composes the rename onto the map already in force. Validates
    * against the current LOGICAL schema (the names readers see), so
    * renames chain: p -> price -> unit_price keeps one entry
    * (physical p -> unit_price), and renaming back to the physical
    * name drops the entry entirely. Returns the published version.
    * Cost: one footer-read for the schema + one manifest + one sidecar
    * — nothing proportional to data size.
    */
  /** The visible logical schema at `version`: physical field names
    * minus dropped columns, mapped through renames.
    */
  private def logicalFields(spark: SparkSession, table: String,
      version: Long, cm: ColMapping): Seq[String] =
    snapshot(spark, table, version).schema.fieldNames.toIndexedSeq
      .filterNot(cm.dropped)
      .map(p => cm.renames.getOrElse(p, p))
      .filterNot(cm.added.contains) ++ cm.added.keys.toSeq.sorted

  def renameColumn(spark: SparkSession, table: String,
      from: String, to: String): Long = {
    val v = latestVersion(table)
    val cm = colMappingAt(table, v)
    val logical = logicalFields(spark, table, v, cm)
    require(logical.contains(from),
      s"rename: $table has no column $from (logical schema: " +
        s"${logical.mkString(",")})")
    require(!logical.contains(to) || from == to,
      s"rename: $table already has a column $to")
    require(!cm.added.contains(from),
      s"rename: $from is a mapping-added column — drop and re-add it " +
        "under the new name (its default travels with the entry)")
    // the physical name behind the logical `from`
    val phys = cm.renames.find(_._2 == from).map(_._1).getOrElse(from)
    val next = (cm.renames - phys) ++
      (if (phys == to) Map.empty[String, String] else Map(phys -> to))
    val nv = v + 1
    commit(table, nv, unitsRel(table, v))
    writeColMapping(table, nv, cm.copy(renames = next))
    nv
  }

  /** DROP COLUMN as a metadata-only commit (round 12 — VERDICT r11
    * #6): publish version+1 with the CURRENT snapshot's units verbatim
    * plus a mapping that tombstones the column — zero data bytes move,
    * mapped reads stop REQUESTING the column so old files never even
    * decode it (the drop is also a column-pruning win, not just a
    * schema edit), and time travel below the drop still sees it.
    * Refuses dropping the last visible column. Returns the published
    * version.
    */
  def dropColumn(spark: SparkSession, table: String,
      name: String): Long = {
    val v = latestVersion(table)
    val cm = colMappingAt(table, v)
    val logical = logicalFields(spark, table, v, cm)
    require(logical.contains(name),
      s"drop: $table has no column $name (logical schema: " +
        s"${logical.mkString(",")})")
    require(logical.size > 1,
      s"drop: $name is the last visible column of $table")
    val nv = v + 1
    commit(table, nv, unitsRel(table, v))
    if (cm.added.contains(name))
      // dropping an ADDED column is pure mapping arithmetic: remove
      // the entry (post-add files' physical copies become invisible
      // like any tombstoned column)
      writeColMapping(table, nv,
        cm.copy(added = cm.added - name, dropped = cm.dropped + name))
    else {
      val phys = cm.renames.find(_._2 == name).map(_._1).getOrElse(name)
      writeColMapping(table, nv, ColMapping(cm.renames - phys,
        cm.dropped + phys, cm.widened - phys, cm.added))
    }
    nv
  }

  /** ADD COLUMN WITH DEFAULT as a metadata-only commit (round 12 —
    * the fourth mapping evolution): publish version+1 with the same
    * units plus a mapping entry recording (name, DDL type, default
    * SQL literal). No file is rewritten — mapped reads request the
    * column (files that predate the add resolve it as NULL in the
    * scan) and surface the default through one null-coalescing
    * projection; post-add appends carry it physically. Semantics are
    * NOT-NULL-with-default: an explicitly-written NULL in a post-add
    * file is indistinguishable from an absent value at the parquet
    * layer and also surfaces the default — nullable added columns
    * would need a file-generation split this mapping deliberately
    * avoids. Time travel below the add does not see the column.
    */
  def addColumn(spark: SparkSession, table: String, name: String,
      toDdl: String, defaultSql: String): Long = {
    import org.apache.spark.sql.types.StructType
    val v = latestVersion(table)
    val cm = colMappingAt(table, v)
    val logical = logicalFields(spark, table, v, cm)
    require(!logical.contains(name),
      s"add: $table already has a column $name")
    // The added name must not SHADOW any physical field (ADVICE r12,
    // medium): snapshotMapped REQUESTS added names from the scan, so a
    // name matching a dropped physical column would resurrect the
    // tombstoned files' values instead of the default (violating the
    // drop contract), and one matching a renamed-away physical name
    // would evict that field from the base projection. Reference
    // formats avoid this with physical-id indirection; this mapping
    // keeps logical==physical for added columns and therefore must
    // keep the physical namespace exclusive instead.
    val physNames = snapshot(spark, table, v).schema.fieldNames.toSet
    require(!physNames.contains(name),
      s"add: $name collides with a physical column of $table " +
        (if (cm.dropped(name)) "(dropped — a metadata add cannot " +
          "resurrect tombstoned data; use a new name)"
         else "(renamed away — its physical name stays reserved)"))
    val target = StructType.fromDDL(s"c $toDdl").head.dataType
    // the default literal must parse and cast to the declared type
    val probe = spark.range(1).select(
      org.apache.spark.sql.functions.expr(defaultSql).cast(target))
    require(!probe.head().isNullAt(0),
      s"add: default $defaultSql does not cast to $toDdl")
    // The default must be CONSTANT (ADVICE r12): snapshotMapped
    // re-evaluates it on every read, so a non-deterministic or
    // time-dependent expression (rand(), current_timestamp) would
    // drift between reads and between engines. Foldable + no
    // CURRENT_LIKE node = a genuine literal expression.
    val analyzedDefault = probe.queryExecution.analyzed
      .expressions.head match {
        // the probe projection wraps the default in an Alias, whose
        // foldable is hardcoded false — judge the aliased expression
        case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
        case e => e
      }
    require(analyzedDefault.deterministic && analyzedDefault.foldable &&
        !analyzedDefault.exists(_.containsPattern(
          org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE)),
      s"add: default $defaultSql is not a constant literal expression " +
        "— mapped reads re-evaluate it per read, so it must fold to " +
        "the same value forever")
    val nv = v + 1
    commit(table, nv, unitsRel(table, v))
    writeColMapping(table, nv,
      cm.copy(added = cm.added + (name -> (target.sql, defaultSql))))
    nv
  }

  /** The widenings a mapped read can serve without rewriting a byte:
    * integral up-casts, float->double, and scale-preserving decimal
    * precision growth — exactly the conversions Spark's parquet
    * readers perform under a wider requested schema.
    */
  private def widensTo(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (a, b) if a == b => false // not a widening
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (a: DecimalType, b: DecimalType) =>
        b.scale >= a.scale && b.precision - b.scale >= a.precision - a.scale &&
          (b.precision > a.precision || b.scale > a.scale)
      case _ => false
    }
  }

  /** WIDEN COLUMN TYPE as a metadata-only commit (round 12 — VERDICT
    * r11 #6): publish version+1 with the same units plus a mapping
    * entry recording the new logical DDL type. No file is rewritten —
    * mapped reads request the wider schema and the parquet reader
    * up-converts old narrow files in the scan itself (no per-row cast
    * expression, pushdown intact), while post-widen appends may write
    * the wide type natively. Only lossless widenings are accepted.
    * Returns the published version.
    */
  def widenColumn(spark: SparkSession, table: String,
      name: String, toDdl: String): Long = {
    import org.apache.spark.sql.types.StructType
    val v = latestVersion(table)
    val cm = colMappingAt(table, v)
    val logical = logicalFields(spark, table, v, cm)
    require(logical.contains(name),
      s"widen: $table has no column $name (logical schema: " +
        s"${logical.mkString(",")})")
    require(!cm.added.contains(name),
      s"widen: $name is a mapping-added column — drop and re-add it " +
        "at the wider type")
    val phys = cm.renames.find(_._2 == name).map(_._1).getOrElse(name)
    val target = StructType.fromDDL(s"c $toDdl").head.dataType
    // widen FROM the current logical type (widenings chain)
    val curType = cm.widened.get(phys)
      .map(t => StructType.fromDDL(s"c $t").head.dataType)
      .getOrElse(snapshot(spark, table, v).schema(phys).dataType)
    require(widensTo(curType, target),
      s"widen: ${curType.sql} -> ${target.sql} is not a lossless " +
        s"widening for $name")
    val nv = v + 1
    commit(table, nv, unitsRel(table, v))
    writeColMapping(table, nv,
      cm.copy(widened = cm.widened + (phys -> target.sql)))
    nv
  }

  /** Read AS OF `version` under that version's LOGICAL schema — names
    * mapped, dropped columns never requested (the scan does not even
    * decode them), widened columns read under their wider type BY THE
    * PARQUET READER (requested-schema up-conversion, not a per-row
    * cast), then an alias-only projection. Pushdown, pruning and
    * codegen are exactly the unmapped read's.
    */
  def snapshotMapped(spark: SparkSession, table: String,
      version: Long): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, expr}
    import org.apache.spark.sql.types.{StructField, StructType}
    val cm = colMappingAt(table, version)
    if (cm.isEmpty) snapshot(spark, table, version)
    else {
      val physSchema = snapshot(spark, table, version).schema
      val base = StructType(physSchema.fields.toIndexedSeq
        .filterNot(f => cm.dropped(f.name))
        .filterNot(f => cm.added.contains(f.name))
        .map { f =>
          cm.widened.get(f.name) match {
            case Some(t) => StructField(f.name,
              StructType.fromDDL(s"c $t").head.dataType, f.nullable)
            case None => f
          }
        })
      // added columns are REQUESTED from the scan (pre-add files
      // resolve them as NULL; post-add files carry real values) and
      // surface their default through one null-coalescing projection
      val addedFields = cm.added.toSeq.sortBy(_._1).map { case (n, (t, _)) =>
        StructField(n, StructType.fromDDL(s"c $t").head.dataType, true)
      }
      val want = StructType(base.fields.toIndexedSeq ++ addedFields)
      val df = spark.read.schema(want).parquet(units(table, version): _*)
      df.select(base.fieldNames.toIndexedSeq.map(p =>
        col(p).as(cm.renames.getOrElse(p, p))) ++
        cm.added.toSeq.sortBy(_._1).map { case (n, (t, dflt)) =>
          coalesce(col(n), expr(dflt)
            .cast(StructType.fromDDL(s"c $t").head.dataType)).as(n)
        }: _*)
    }
  }

  /** Writer-side inverse of [[snapshotMapped]]: project a logical-name
    * DataFrame back to the PHYSICAL names `version`'s map expects, so
    * appends after a rename land files whose footers agree with the
    * table's frozen physical schema (a logical-named file would fork
    * the physical schema and break every mapped read that follows).
    */
  def toPhysical(table: String, version: Long, df: DataFrame): DataFrame = {
    val cm = colMappingAt(table, version)
    val inv = cm.renames.map(_.swap)
    df.schema.fieldNames.foreach { l =>
      require(!cm.dropped(inv.getOrElse(l, l)),
        s"toPhysical: $l is dropped at v$version — a writer cannot " +
          "resurrect a tombstoned column")
    }
    if (inv.isEmpty) df
    else df.select(df.schema.fieldNames.toIndexedSeq.map(l =>
      org.apache.spark.sql.functions.col(l).as(inv.getOrElse(l, l))): _*)
  }

  // ------------------------------------------------------------------
  // WRITE-AUDIT-PUBLISH — staged branches (ref: n/a, SURVEY §0; the
  // Iceberg WAP / Delta shadow-branch pattern on this log). A producer
  // STAGES a candidate snapshot as a named branch manifest that no
  // snapshot()/versions() reader can see; an audit job reads the
  // branch in full query shape; only a passing audit PUBLISHES the
  // branch — one atomic manifest link, promoting the already-written
  // units without moving a byte. A failing audit abandons the branch
  // and main never saw the bad batch: the quarantine the
  // quality-gated ingest of a 100 TB pipeline needs, at metadata cost.
  // ------------------------------------------------------------------

  private def branchFile(table: String, branch: String): java.nio.file.Path =
    logDir(table).resolve(s"branch_${enc(branch)}.txt")

  /** Stage `units` as branch `branch` — atomic create-if-absent (the
    * tryCommit hard-link protocol), so two producers racing for the
    * same branch name serialize: one wins, the other fails loudly
    * instead of silently overwriting a staged-but-unaudited batch.
    * Unit-name hygiene is the commit gate's.
    */
  def stageBranch(table: String, branch: String, units: Seq[String]): Unit = {
    require(units.nonEmpty, "a staged branch must reference at least one unit")
    units.foreach { u =>
      require(u.nonEmpty && !u.exists(c => c == '\n' || c == '\r' || c == '|'),
        s"illegal unit name $u in staged branch")
    }
    java.nio.file.Files.createDirectories(logDir(table))
    if (!linkNew(branchFile(table, branch), units.mkString("", "\n", "\n")))
      throw new IllegalStateException(
        s"branch $branch of $table is already staged — audit and " +
          "publish/abandon it before re-staging")
  }

  /** Names of currently staged (unpublished, unabandoned) branches. */
  def stagedBranches(table: String): Seq[String] = {
    val dir = logDir(table)
    if (!java.nio.file.Files.isDirectory(dir)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      val st = java.nio.file.Files.list(dir)
      try st.iterator().asScala.map(_.getFileName.toString)
        .collect { case n if n.startsWith("branch_") && n.endsWith(".txt") =>
          dec(n.stripPrefix("branch_").stripSuffix(".txt"))
        }.toVector.sorted
      finally st.close()
    }
  }

  /** The staged branch's unit paths, table-root relative. */
  def stagedUnits(table: String, branch: String): Seq[String] =
    lines(branchFile(table, branch)).getOrElse(throw new IllegalArgumentException(
      s"$table has no staged branch $branch"))

  /** Read the staged branch — the AUDIT surface: full query shape over
    * the candidate snapshot, invisible to every main-line reader.
    */
  def snapshotBranch(spark: SparkSession, table: String,
      branch: String): DataFrame =
    Parquet.read(spark, stagedUnits(table, branch)
      .map(u => java.nio.file.Paths.get(table, u).toString))

  /** PUBLISH a staged branch: commit its units as the next main
    * version and drop the branch marker. Races with concurrent main
    * commits via the tryCommit loop — the staged units are immutable,
    * so retrying at the next version number re-publishes the same
    * audited content (the audit's subject cannot drift between
    * attempts). Returns the version published.
    */
  def publishBranch(table: String, branch: String): Long = {
    val us = stagedUnits(table, branch)
    var v = versions(table).lastOption.map(_ + 1L).getOrElse(0L)
    while (!tryCommit(table, v, us)) v += 1
    java.nio.file.Files.delete(branchFile(table, branch))
    v
  }

  /** ABANDON a staged branch (the failing-audit path): drop the marker
    * and reclaim the branch's EXCLUSIVE owned units — those no
    * published version references (a branch may legitimately carry
    * main-line units when it stages base+delta; only the delta dies).
    * Main is untouched by construction: nothing here ever had a
    * version manifest. Returns the number of units reclaimed.
    */
  def abandonBranch(table: String, branch: String): Long = {
    val us = stagedUnits(table, branch)
    java.nio.file.Files.delete(branchFile(table, branch))
    val live = versions(table)
      .flatMap(v => units(table, v) ++ deletes(table, v)).toSet ++
      stagedBranches(table).flatMap(b => stagedUnits(table, b))
        .map(u => java.nio.file.Paths.get(table, u).toString)
    var n = 0L
    us.foreach { u =>
      val abs = java.nio.file.Paths.get(table, u).toString
      if (!live(abs) && ownsUnit(table, u)) {
        Fs.deleteRecursively(abs)
        n += 1
      }
    }
    n
  }

  // ------------------------------------------------------------------
  // DECLARATIVE COMMIT CONSTRAINTS (round 13 — VERDICT r12 #8; ref:
  // n/a, SURVEY §0 — the Delta CHECK-constraint / NOT NULL table-
  // property pattern on this log). Constraints are declared ONCE as a
  // table property file; every [[commitConstrained]] then validates
  // the NEW units — O(delta) data, never table-sized — BEFORE the
  // manifest links, so a poisoned batch burns no version. Uniqueness
  // against the standing snapshot takes the cheap path when sidecars
  // exist: the cstats sidecar prunes probe units by key range first,
  // so a delta whose key range is disjoint from most of the table
  // semi-joins only the overlapping units.
  // ------------------------------------------------------------------

  sealed trait TableConstraint { def render: String }
  /** `col` must be non-null in every committed row. */
  final case class NotNullConstraint(col: String) extends TableConstraint {
    def render = s"notnull|$col"
  }
  /** SQL-standard CHECK: a row violates only when `sql` evaluates to
    * FALSE (UNKNOWN/null passes, as in the standard).
    */
  final case class CheckConstraint(name: String, sql: String)
      extends TableConstraint {
    def render = s"check|$name|$sql"
  }
  /** `col` must be unique across the whole table (nulls exempt, the
    * SQL UNIQUE convention — compose with [[NotNullConstraint]] for a
    * primary key).
    */
  final case class UniqueConstraint(col: String) extends TableConstraint {
    def render = s"unique|$col"
  }
  /** REFERENTIAL constraint (round 14 — VERDICT r13 #8): every
    * non-null `col` value of a committed batch must exist in
    * `refCol` of `refTable`'s LATEST version (SQL FOREIGN KEY, nulls
    * exempt per the standard's simple match rule). Validation is a
    * broadcast semi-join of the batch's distinct FK values against
    * the referenced table's key column, stats-routed through the
    * referenced table's cstats sidecar when one exists, and MoR-aware:
    * a referenced key whose only copy was tombstoned does NOT satisfy
    * the reference.
    */
  final case class ForeignKeyConstraint(col: String, refTable: String,
      refCol: String) extends TableConstraint {
    def render = s"fk|$col|$refTable|$refCol"
  }

  private def constraintsFile(table: String): java.nio.file.Path =
    logDir(table).resolve("constraints.txt")

  /** Declare (or replace) the table's constraint set — a metadata-only
    * DDL; enforcement happens at every later [[commitConstrained]] /
    * [[auditBranchConstraints]]. Names/columns must be separator-free;
    * a CHECK's SQL is the line's last field so it may contain '|'.
    */
  def declareConstraints(table: String, cs: Seq[TableConstraint]): Unit = {
    cs.foreach {
      case NotNullConstraint(c) => requireCleanField(c, "notnull column")
      case UniqueConstraint(c) => requireCleanField(c, "unique column")
      case ForeignKeyConstraint(c, t, rc) =>
        requireCleanField(c, "foreign-key column")
        requireCleanField(t, "foreign-key referenced table")
        requireCleanField(rc, "foreign-key referenced column")
      case CheckConstraint(n, sql) =>
        requireCleanField(n, "check name")
        require(sql.nonEmpty && !sql.exists(ch => ch == '\n' || ch == '\r'),
          s"check $n: SQL must be non-empty and newline-free")
    }
    java.nio.file.Files.createDirectories(logDir(table))
    java.nio.file.Files.writeString(constraintsFile(table),
      cs.map(_.render).mkString("", "\n", "\n"))
  }

  private def requireCleanField(v: String, what: String): Unit =
    require(v.nonEmpty && !v.exists(c => c == '\n' || c == '\r' || c == '|'),
      s"illegal $what '$v' — must be non-empty and free of newlines and '|'")

  /** The declared constraint set (empty when none declared). */
  def constraintsOf(table: String): Seq[TableConstraint] =
    lines(constraintsFile(table)).getOrElse(Seq.empty).map { line =>
      line.split("\\|", 3) match {
        case Array("notnull", c) => NotNullConstraint(c)
        case Array("unique", c) => UniqueConstraint(c)
        case Array("check", n, sql) => CheckConstraint(n, sql)
        // fk fields are all '|'-free (validated at declare), so the
        // 2-way tail split is unambiguous
        case Array("fk", c, rest) => rest.split("\\|", 2) match {
          case Array(t, rc) => ForeignKeyConstraint(c, t, rc)
          case _ => throw new IllegalArgumentException(
            s"corrupt fk constraint line: $line")
        }
        case _ => throw new IllegalArgumentException(
          s"corrupt constraint line: $line")
      }
    }

  /** Validate `newUnits` against the declared constraints, with
    * `baseVersion` (None = empty table) as the standing snapshot for
    * uniqueness. Returns violation messages — empty means clean.
    * Shared by the commit gate and the WAP audit so a constraint
    * failure IS an audit failure.
    */
  def constraintViolations(spark: SparkSession, table: String,
      newUnits: Seq[String], baseVersion: Option[Long]): Seq[String] = {
    import org.apache.spark.sql.functions.{broadcast, col, count, expr, lit}
    val cs = constraintsOf(table)
    if (cs.isEmpty || newUnits.isEmpty) return Seq.empty
    val fresh = Parquet.read(spark,
      newUnits.map(u => java.nio.file.Paths.get(table, u).toString))
    val out = scala.collection.mutable.ListBuffer[String]()
    cs.foreach {
      case NotNullConstraint(c) =>
        if (!fresh.filter(col(c).isNull).limit(1).isEmpty)
          out += s"notnull($c): new units carry null $c"
      case CheckConstraint(n, sql) =>
        // violation = predicate IS FALSE (UNKNOWN passes, SQL standard)
        if (!fresh.filter(expr(sql) === lit(false)).limit(1).isEmpty)
          out += s"check($n): new units violate [$sql]"
      case ForeignKeyConstraint(c, refTable, refCol) =>
        val refVs = versions(refTable)
        if (refVs.isEmpty) {
          if (!fresh.filter(col(c).isNotNull).limit(1).isEmpty)
            out += s"foreignkey($c): referenced table $refTable has no" +
              " committed version"
        } else {
          val rv = refVs.last
          val fkeys = fresh.filter(col(c).isNotNull)
            .select(col(c).as("__k")).distinct().localCheckpoint()
          val bounds = fkeys.agg(
            org.apache.spark.sql.functions.min("__k"),
            org.apache.spark.sql.functions.max("__k")).head()
          if (!bounds.isNullAt(0)) {
            // Stats routing is safe only when the BATCH column's type
            // renders bounds in the same order the REFERENCED column's
            // footer kind compares them (ADVICE r14): snapshotRangeCol
            // parses lo/hi by the FOOTER kind, so a string batch column
            // against a long-kind footer would throw on toLong, and a
            // long batch column against a string-kind footer would
            // compare numbers lexically — wrongly pruning units and
            // spuriously rejecting valid commits. Require kind match
            // (the unique-constraint lesson); otherwise fall back to
            // the full-snapshot semi-join.
            val batchKind = fresh.schema(c).dataType match {
              case org.apache.spark.sql.types.LongType => Some("long")
              case org.apache.spark.sql.types.StringType => Some("string")
              case _ => None
            }
            def refKindMatches: Boolean = {
              val rcs = colStatsOpt(refTable, rv).getOrElse(Seq.empty)
                .filter(_.col == refCol)
              rcs.nonEmpty && batchKind.exists(k => rcs.forall(_.kind == k))
            }
            val rangeSafe = batchKind.nonEmpty
            val tomb = deletes(refTable, rv)
            val standing =
              if (tomb.nonEmpty) {
                // MoR-aware: a tombstoned parent must NOT satisfy the
                // reference — validate against the LIVE rows
                val tombCols =
                  Parquet.read(spark, tomb.head).schema.fieldNames
                if (tombCols.length == 1)
                  snapshotMoRSeq(spark, refTable, rv, tombCols.head)
                else {
                  // an unrecognizable tombstone shape makes liveness
                  // unprovable — fail-safe is REJECT (the raw
                  // pre-image would falsely ACCEPT deleted parents)
                  out += s"foreignkey($c): $refTable carries a " +
                    "multi-column tombstone sidecar — referential " +
                    "liveness unprovable, commit refused"
                  null
                }
              }
              else if (rangeSafe && refKindMatches)
                // stats-routed: only referenced units whose [min,max]
                // overlaps the batch's FK range are opened — a batch
                // entirely out of range proves its orphans from the
                // manifest alone
                snapshotRangeCol(spark, refTable, rv, refCol,
                  bounds.get(0).toString, bounds.get(1).toString)._1
              else snapshot(spark, refTable, rv)
            if (standing != null) {
              // one pass over the (pruned) referenced scan: semi-join
              // against the broadcast batch keys, then the tiny
              // present-set anti-joins the batch — the referenced
              // table is never shuffled
              val present = standing.select(col(refCol).as("__k"))
                .join(broadcast(fkeys), Seq("__k"), "left_semi").distinct()
              val orphan = fkeys
                .join(broadcast(present), Seq("__k"), "left_anti").limit(1)
              if (!orphan.isEmpty)
                out += s"foreignkey($c): new batch references $refCol" +
                  s" values absent from $refTable v$rv"
            }
          }
        }
      case UniqueConstraint(c) =>
        val keys = fresh.filter(col(c).isNotNull).select(col(c).as("__k"))
        val dupIn = keys.groupBy("__k").agg(count(lit(1)).as("n"))
          .filter(col("n") > 1).limit(1)
        if (!dupIn.isEmpty)
          out += s"unique($c): duplicate keys within the new batch"
        else baseVersion.foreach { v =>
          // keys already committed? Cheap path: cstats range pruning
          // picks only units whose [min,max] overlaps the batch's key
          // range; the exact probe then semi-joins the pruned scan
          // against the broadcast batch keys. Without cstats on the
          // key, the probe falls back to the full snapshot
          // (still one semi-join, never a shuffle of the table).
          val kd = keys.distinct().localCheckpoint()
          val bounds = kd.agg(
            org.apache.spark.sql.functions.min("__k"),
            org.apache.spark.sql.functions.max("__k")).head()
          if (!bounds.isNullAt(0)) {
            // ADVICE r13: the range-pruned path renders the batch
            // bounds via toString and snapshotRangeCol reparses by the
            // footer kind — only BIGINT and STRING keys round-trip
            // that rendering (a decimal's toString is not its INT64
            // footer form); any other type takes the always-correct
            // full-snapshot semi-join.
            // ADVICE r14 (FK twin): also require the standing
            // version's footer kind to MATCH the batch type — a type
            // evolved between versions (long batch vs string footer)
            // would compare numbers lexically and prune wrongly.
            val batchKind = fresh.schema(c).dataType match {
              case org.apache.spark.sql.types.LongType => Some("long")
              case org.apache.spark.sql.types.StringType => Some("string")
              case _ => None
            }
            def ownKindMatches: Boolean = {
              val rcs = colStatsOpt(table, v).getOrElse(Seq.empty)
                .filter(_.col == c)
              rcs.nonEmpty && batchKind.exists(k => rcs.forall(_.kind == k))
            }
            val rangeSafe = batchKind.nonEmpty
            val tomb = deletes(table, v)
            val standing =
              if (tomb.nonEmpty) {
                // ADVICE r13: with MoR deletes outstanding the probe
                // must see the LIVE rows, not the raw pre-image — a
                // key whose only copy was tombstoned must accept a
                // re-insert. Tombstone units carry the delete-key
                // column; the sequence-aware read applies them (and
                // upsert post-image exemptions) exactly as every
                // other reader does. Pruning is skipped here —
                // correctness over speed until compaction clears the
                // sidecar and the fast path returns.
                val tombCols = Parquet.read(spark, tomb.head).schema.fieldNames
                if (tombCols.length == 1)
                  snapshotMoRSeq(spark, table, v, tombCols.head)
                else snapshot(spark, table, v) // unknown key: raw, conservative
              }
              else if (rangeSafe && ownKindMatches)
                snapshotRangeCol(spark, table, v, c,
                  bounds.get(0).toString, bounds.get(1).toString)._1
              else snapshot(spark, table, v)
            val clash = standing.select(col(c).as("__k"))
              .join(broadcast(kd), "__k").limit(1)
            if (!clash.isEmpty)
              out += s"unique($c): new batch re-uses keys already in v$v"
          }
        }
    }
    out.toSeq
  }

  /** Constraint-enforced commit: validates the units `version` ADDS
    * over the previous version (O(delta)) against the declared
    * constraint set, then commits atomically. A violation throws with
    * every failed constraint named and BURNS NO VERSION — the manifest
    * is never linked. Composes with the column mapping (validation
    * reads physical files; declare constraints on physical names) and
    * with WAP via [[auditBranchConstraints]].
    */
  def commitConstrained(spark: SparkSession, table: String, version: Long,
      units: Seq[String]): Unit = {
    val vs = versions(table)
    val prev = vs.lastOption
    val existing = prev.map(unitsRel(table, _).toSet).getOrElse(Set.empty)
    val fresh = units.filterNot(existing)
    val bad = constraintViolations(spark, table, fresh, prev)
    require(bad.isEmpty,
      s"commit of $table v$version rejected, no version burned:\n  " +
        bad.mkString("\n  "))
    commit(table, version, units)
  }

  /** WAP composition: audit a staged branch BY the declared
    * constraints — the branch's units not already on main are the
    * batch under audit. Returns true (publishable) only when clean.
    */
  def auditBranchConstraints(spark: SparkSession, table: String,
      branch: String): Boolean = {
    val vs = versions(table)
    val prev = vs.lastOption
    val existing = prev.map(unitsRel(table, _).toSet).getOrElse(Set.empty)
    val fresh = stagedUnits(table, branch).filterNot(existing)
    constraintViolations(spark, table, fresh, prev).isEmpty
  }
}
