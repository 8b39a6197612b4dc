package graft.operators

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.types._

/** Minimal log-backed table format: ACID-on-parquet via an ordered
  * transaction log — the structure every production lakehouse table
  * format (as published in the Delta Lake paper, VLDB 2020) builds on,
  * reduced to the properties that matter at warehouse scale:
  *
  *   1. ATOMIC COMMITS. A commit is one log file `_txlog/%08d.json`
  *      whose creation is all-or-nothing (hard-link publish, which
  *      fails atomically if the version already exists — the POSIX
  *      stand-in for an object store's put-if-absent). Readers never
  *      see a half-written table state: data files are invisible until
  *      the commit that adds them exists in full.
  *   2. OPTIMISTIC CONCURRENCY. Writers commit against an expected
  *      version; losing a race throws [[TxLog.ConcurrentCommit]] and
  *      the caller re-reads + retries. No locks, arbitrarily many
  *      concurrent readers.
  *   3. SNAPSHOT ISOLATION + TIME TRAVEL. A snapshot at version v is
  *      the log's add/remove actions folded through commit v — old
  *      versions stay readable (`read(..., asOf = Some(v))`) until a
  *      retention job vacuums removed files.
  *   4. FILE-GRANULAR COPY-ON-WRITE. `deleteWhere` rewrites ONLY the
  *      files that contain matching rows (discovered distributedly via
  *      input_file_name aggregation — the driver handles file METADATA,
  *      never data); untouched files carry over by reference. At 100 TB
  *      that is the difference between rewriting gigabytes and
  *      rewriting the table.
  *   5. LOG CHECKPOINTS. Every [[CheckpointEvery]] commits the full
  *      live state (file set + per-file column stats + seen txn ids) is
  *      folded into a sibling checkpoint file; reads and idempotent-txn
  *      checks start from the newest checkpoint at or below the
  *      requested version and replay only the suffix — O(recent
  *      commits), not O(log), once a streaming sink has run for a while.
  *   6. DATA-SKIPPING STATS. Adds may carry per-file min/max for any
  *      set of columns (integral, floating, string, date);
  *      [[readPruned]] drops files whose recorded range cannot
  *      intersect the query's BEFORE Spark ever lists them.
  *
  *   7. SCHEMA EVOLUTION, additive ([[appendEvolve]]: new nullable
  *      columns via parquet schema merge) and NON-ADDITIVE
  *      ([[renameColumn]] / [[dropColumn]] / [[widenColumn]] /
  *      [[addColumn]]): the non-additive ops are metadata-only commits
  *      backed by a FIELD-ID MAPPING (`schema` log actions + per-add
  *      write-schema epochs) — files written under any earlier schema
  *      resolve by id on every batch read path, so a rename at 100 TB
  *      rewrites nothing.
  *   8. THE LOG IS THE LISTING: scans take their file set and schema
  *      from the snapshot, and never list or infer ([[scanFiles]]). A
  *      read or an idempotent append therefore launches no listing or
  *      schema-inference job at any file count; an un-evolved table's
  *      schema is one data file's footer, memoized per file identity.
  *      Cost caveat: the driver stats each scanned file once per scan
  *      plan (O(files) metadata calls — cheap on a local or HDFS
  *      namespace, a round-trip each on an object store). Recording
  *      file sizes in the add action, the published formats' answer,
  *      is out of scope. Two reads still list: `mergeSchema` reads of
  *      additively evolved tables, and deletion-vector directories,
  *      which the log names by directory, not by file.
  *
  * Deliberately out of scope (documented, not faked): multi-table
  * transactions. One streaming caveat: a subscription started on a
  * table BEFORE its first schema mutation throws when the mutation
  * commit arrives (its fixed physical schema cannot resolve
  * post-mutation files) — restart the subscription; a mapped-start
  * stream resolves every epoch by field id and survives further
  * mutations.
  */
object TxLog {

  class ConcurrentCommit(msg: String) extends RuntimeException(msg)

  /** A SCHEMA action (first field-id mapping) landed between a write's
    * validation and its commit. Unlike a plain lost CAS race, the
    * write's precomputed add lines would replay under the wrong schema
    * epoch if blindly re-committed, so [[retryCommit]] never absorbs
    * this — it surfaces to the caller, who revalidates against the new
    * schema and re-appends. (Appends to an ALREADY-mapped table don't
    * need this: their add lines carry an explicit write-epoch stamp and
    * stay correct under any raced mutation — see [[append]].) */
  final class ConcurrentSchemaChange(msg: String)
      extends ConcurrentCommit(msg)

  /** Per-file, per-column min/max with a type tag so comparisons happen
    * in the value's own domain (never via stringly-compared numbers):
    * "L" integral (compared as Long), "D" floating (as Double), "S"
    * string/date (lexicographic; dates serialize ISO so order agrees).
    */
  final case class ColStats(typ: String, lo: String, hi: String) {
    /** Parsed filter words for "B" (bloom) entries — computed once per
      * instance; instances live in the memoized replay snapshots, so
      * repeated lookups never re-parse the hex. */
    lazy val bloomWords: Array[Long] =
      lo.grouped(16).map(java.lang.Long.parseUnsignedLong(_, 16)).toArray

    def overlaps(qTyp: String, qLo: String, qHi: String): Boolean =
      if (qTyp != typ) true // incomparable domains: conservatively keep
      else typ match {
        case "L" => hi.toLong >= qLo.toLong && lo.toLong <= qHi.toLong
        case "D" => hi.toDouble >= qLo.toDouble && lo.toDouble <= qHi.toDouble
        case _   => hi >= qLo && lo <= qHi
      }
  }

  private def logDir(table: String): File = new File(table, "_txlog")

  private def logFile(table: String, v: Int): File =
    new File(logDir(table), f"$v%08d.json")

  /** Latest committed version, -1 for an empty/new table. */
  def version(table: String): Int = {
    val d = logDir(table)
    val fs = d.listFiles()
    if (fs == null) -1
    else fs.map(_.getName).filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json").toInt).sorted.lastOption.getOrElse(-1)
  }

  // ---------------------------------------------------------------------
  // Log-line encoding. Hand-rolled micro-JSON: op/path/txn fields are
  // engine-generated (UUID dirs, part files, batch ids — never contain
  // quotes), but STATS VALUES come from user data, so strings are
  // escaped on write and parsed with a real quote-aware scanner.
  // ---------------------------------------------------------------------

  private def jesc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** Parse the JSON string starting at `s(i)` == '"'. Returns (value,
    * index just past the closing quote). Only `\\` and `\"` escapes are
    * ever written, so unescape-next-char is exact. */
  private def jstr(s: String, i: Int): (String, Int) = {
    val sb = new StringBuilder
    var j = i + 1
    while (s.charAt(j) != '"') {
      if (s.charAt(j) == '\\') { sb.append(s.charAt(j + 1)); j += 2 }
      else { sb.append(s.charAt(j)); j += 1 }
    }
    (sb.toString, j + 1)
  }

  /** `ep` (write-schema index, -1 = pre-mapping) is emitted for every
    * add line of a schema-MAPPED table: live appends stamp their
    * validation-time epoch (r10 — so a schema mutation racing the
    * commit retry can never re-epoch the files), and
    * checkpoint/clone/restore lines carry it because folding a log
    * loses the add's position relative to schema actions. Un-mapped
    * tables keep the compact ep-less format. It sits directly after
    * the op so the parser can anchor on the literal line prefix (stats
    * values are user data and could contain a fake `"ep":`). */
  private def addLine(path: String, stats: Map[String, ColStats],
                      ep: Int = Int.MinValue): String = {
    val epPart = if (ep == Int.MinValue) "" else s""""ep":$ep,"""
    if (stats.isEmpty) s"""{"op":"add",$epPart"path":"${jesc(path)}"}"""
    else {
      val body = stats.toSeq.sortBy(_._1).map { case (c, st) =>
        s""""${jesc(c)}":["${st.typ}","${jesc(st.lo)}","${jesc(st.hi)}"]"""
      }.mkString(",")
      s"""{"op":"add",$epPart"path":"${jesc(path)}","stats":{$body}}"""
    }
  }

  /** One field of a mapped logical schema: (stable field id, current
    * name, DDL type string). Field IDS are the identity — names and
    * types are per-version presentation, which is what makes
    * rename/drop/widen safe across files written under older schemas
    * (the published field-id-mapping idea behind every production
    * format's non-additive evolution). */
  private type Field = (Int, String, String)

  private def schemaLine(fields: Seq[Field]): String =
    s"""{"op":"schema","path":"","fields":[""" +
      fields.map { case (i, n, t) =>
        s"""[$i,"${jesc(n)}","${jesc(t)}"]"""
      }.mkString(",") + "]}"

  private def dvLine(path: String, dv: String): String =
    s"""{"op":"dv","path":"${jesc(path)}","dv":"${jesc(dv)}"}"""

  /** One folded log state: live files with their stats, txn ids seen,
    * per-file deletion vectors, and whether the schema has additively
    * evolved (reads then merge parquet footers; un-evolved tables skip
    * that cost). */
  private final class State {
    val live = scala.collection.mutable.LinkedHashMap[String, Map[String, ColStats]]()
    val txns = scala.collection.mutable.LinkedHashSet[String]()
    val checks = scala.collection.mutable.LinkedHashMap[String, String]()
    /** data file rel path -> deletion-vector dirs (rel paths) whose
      * (path, pos) rows mask this file's deleted rows on every read
      * path ([[readFiles]]). A remove (COW rewrite) materializes the
      * deletes, so it drops the file's DVs; an add at the same path
      * (only [[restore]] re-adds paths) starts mask-free and the
      * restore commit re-emits the target version's dv lines. */
    val dvs = scala.collection.mutable.LinkedHashMap[String, Vector[String]]()
    var evolved = false
    /** Mapped-evolution schema history: every `schema` action's full
      * field list, in order. Index 0 is always the BASELINE (the
      * pre-mutation schema with ids first assigned); the last entry is
      * the current logical schema. Empty = table never schema-mapped. */
    val schemas = scala.collection.mutable.ArrayBuffer[Vector[(Int, String, String)]]()
    /** data file rel path -> index into [[schemas]] of the schema the
      * file was WRITTEN under (-1 = written before any mapping). */
    val fileEpoch = scala.collection.mutable.LinkedHashMap[String, Int]()
    def mapped: Boolean = schemas.nonEmpty
    def curFields: Vector[(Int, String, String)] = schemas.last
  }

  private def applyLines(lines: java.util.List[String], st: State): Unit =
    lines.forEach { l =>
      if (l.trim.nonEmpty) applyLine(l, st)
    }

  private def applyLine(l: String, st: State): Unit = {
      val op = l.split("\"op\":\"")(1).split("\"")(0)
      op match {
        case "add" =>
          val (path, after) = jstr(l, l.indexOf("\"path\":\"") + 7)
          val stats = {
            val k = l.indexOf("\"stats\":{", after)
            if (k < 0) Map.empty[String, ColStats]
            else {
              val m = scala.collection.mutable.Map[String, ColStats]()
              var i = k + "\"stats\":{".length
              while (l.charAt(i) != '}') {
                val (c, i1) = jstr(l, i)
                var j = i1
                while (l.charAt(j) != '[') j += 1
                val (t, j1) = jstr(l, j + 1)
                val (lo, j2) = jstr(l, j1 + 1)
                val (hi, j3) = jstr(l, j2 + 1)
                m += c -> ColStats(t, lo, hi)
                i = j3 + 1 // past ']'
                if (l.charAt(i) == ',') i += 1
              }
              m.toMap
            }
          }
          st.live += path -> stats
          st.dvs -= path // a (re-)added file starts mask-free
          // write-schema index: explicit "ep" (mapped-table appends,
          // checkpoint/clone/restore — anchored on the literal prefix,
          // never user data), else the latest schema action seen so far
          st.fileEpoch += path -> {
            val epPrefix = "{\"op\":\"add\",\"ep\":"
            if (l.startsWith(epPrefix)) {
              var j = epPrefix.length
              while (l.charAt(j) != ',') j += 1
              l.substring(epPrefix.length, j).toInt
            } else st.schemas.length - 1
          }
        case "remove" =>
          val p = jstr(l, l.indexOf("\"path\":\"") + 7)._1
          st.live -= p
          st.dvs -= p // a rewrite materializes the file's deletes
          st.fileEpoch -= p
        case "dv" =>
          val (p, _) = jstr(l, l.indexOf("\"path\":\"") + 7)
          val (d, _) = jstr(l, l.indexOf("\"dv\":\"") + 5)
          // a DV against a non-live file can never be applied — honoring
          // the snapshot would resurrect deleted rows, so refuse loudly
          // instead of silently mis-reading (never ignore a dv line)
          if (!st.live.contains(p))
            throw new IllegalStateException(
              s"log action 'dv' references non-live file $p — corrupt " +
                "or foreign log; refusing to read a snapshot whose " +
                "deletes cannot be applied")
          st.dvs += p -> (st.dvs.getOrElse(p, Vector.empty) :+ d)
        case "txn" =>
          st.txns += jstr(l, l.indexOf("\"path\":\"") + 7)._1
        case "check" =>
          val (name, _) = jstr(l, l.indexOf("\"path\":\"") + 7)
          val (pred, _) = jstr(l, l.indexOf("\"pred\":\"") + 7)
          st.checks += name -> pred
        case "evolve" => st.evolved = true
        case "schema" =>
          val fs = Vector.newBuilder[(Int, String, String)]
          var i = l.indexOf("\"fields\":[") + "\"fields\":[".length
          while (l.charAt(i) == '[') {
            var j = i + 1
            while (l.charAt(j) != ',') j += 1
            val id = l.substring(i + 1, j).toInt
            val (n, j1) = jstr(l, j + 1)
            val (t, j2) = jstr(l, j1 + 1)
            fs += ((id, n, t))
            i = j2 + 1 // past ']'
            if (i < l.length && l.charAt(i) == ',') i += 1
          }
          st.schemas += fs.result()
        case _        => ()
      }
    }

  /** Fold the log through commit `v`, starting from the newest
    * checkpoint at or below `v` when one exists (replay is O(suffix),
    * not O(log)). */
  // Snapshot cache: a (table, generation, version) state is IMMUTABLE
  // once committed (log files are write-once, hard-link published), so
  // replays memoize — repeated metadata ops on a large log parse it
  // once per version instead of once per call. Callers treat returned
  // States as read-only. Bounded: reset when oversized.
  //
  // The GENERATION component is what makes the key safe against a
  // table deleted and recreated at the same path (a pattern every
  // test/bench harness hits): without it, the new incarnation replays
  // the old one's memoized state — reads reference vanished data-file
  // UUID dirs (PATH_NOT_FOUND) and stale txn sets make appendIdempotent
  // silently skip fresh batches. One stat(2) per replay call buys that
  // correctness; the parse it saves is orders of magnitude larger.
  private val replayCache =
    scala.collection.concurrent.TrieMap[(String, String, Int), State]()

  /** Identity token for the CURRENT incarnation of a table's log: the
    * filesystem fileKey (device+inode on POSIX) of commit 0, which a
    * delete-recreate at the same path can never reproduce. Where a
    * filesystem reports no fileKey the token falls back to
    * creationTime+size+CONTENT HASH of commit 0 — size and mtime alone
    * collide under fast delete-recreate (commit-0 bodies are
    * fixed-length UUID paths and timestamp granularity can be coarse),
    * but the body itself names the incarnation's first data files, so
    * two incarnations hash alike only if commit 0 is byte-identical —
    * in which case their v0 states ARE interchangeable. */
  private def generation(table: String): String = {
    val p = logFile(table, 0).toPath
    try {
      val a = Files.readAttributes(
        p, classOf[java.nio.file.attribute.BasicFileAttributes])
      val k = a.fileKey()
      if (k != null) k.toString
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        val h = md.digest(Files.readAllBytes(p))
          .map("%02x".format(_)).mkString
        a.creationTime().toMillis.toString + ":" + a.size().toString +
          ":" + h
      }
    } catch { case _: java.io.IOException => "absent" }
  }

  private def replay(table: String, v: Int): State =
    replayCache.getOrElseUpdate(
      (new File(table).getAbsolutePath, generation(table), v), {
      if (replayCache.size > 256) replayCache.clear()
      val st = new State
      val ckpt = (v to 1 by -1).find(i => checkpointFile(table, i).exists())
      val from = ckpt match {
        case Some(c) =>
          applyLines(Files.readAllLines(checkpointFile(table, c).toPath), st)
          c + 1
        case None => 0
      }
      for (i <- from to v)
        applyLines(Files.readAllLines(logFile(table, i).toPath), st)
      st
    })

  private def stateAt(table: String, asOf: Option[Int]): State = {
    val latest = version(table)
    val v = asOf.getOrElse(latest)
    require(v >= 0 && v <= latest, s"version $v outside [0, $latest]")
    replay(table, v)
  }

  /** Live files with their recorded per-column stats (empty map when the
    * add carried none). */
  def filesWithStats(table: String,
                     asOf: Option[Int] = None): Seq[(String, Map[String, ColStats])] =
    stateAt(table, asOf).live.toSeq

  /** Live file set (relative paths) at `asOf` (default: latest). */
  def files(table: String, asOf: Option[Int] = None): Seq[String] =
    filesWithStats(table, asOf).map(_._1)

  /** Snapshot read at a version. Callers only time-travel to versions
    * with data (all graft uses do) — Spark cannot scan zero files.
    * Tables whose schema has evolved read with mergeSchema so
    * pre-evolution files surface NULL in the added columns; un-evolved
    * tables keep the cheap single-footer path. Files with recorded
    * deletion vectors read through the DV mask ([[readFiles]]). */
  def read(spark: SparkSession, table: String,
           asOf: Option[Int] = None): DataFrame = {
    val st = stateAt(table, asOf)
    readFiles(spark, table, st, st.live.keysIterator.toSeq)
  }

  /** Per-row source-file BASENAME — the DV join key. Part-file names
    * embed the write job's UUID, so basenames are unique across a
    * table and its shallow clones, and they survive the `../`-style
    * relative paths a clone's log records (a table-relative string
    * match would not). */
  private val srcBaseCol: org.apache.spark.sql.Column =
    expr("regexp_extract(_metadata.file_path, '[^/]+$', 0)")

  private def baseName(p: String): String =
    p.substring(p.lastIndexOf('/') + 1)

  /** Map each row's canonical absolute file path back to the rel-path
    * KEY the log records — robust for shallow clones, where live keys
    * step outside the table dir (`../src/data-…`) and plain substring
    * surgery fails. The lookup is file-count-sized metadata; the join
    * broadcasts. */
  private def withSrcKey(spark: SparkSession, table: String, st: State,
                         df: DataFrame): DataFrame = {
    import spark.implicits._
    // Key the lookup by BOTH the canonical and the plain absolute path
    // of every live file: on a symlinked table dir the two differ, and
    // which one Spark reports in _metadata.file_path is its business,
    // not ours. The join is LEFT + loud-fail on a miss — an inner join
    // would silently drop every row of an unmatched file, turning
    // deleteWhere into a no-op and merge into blind inserts.
    val lookup = st.live.keysIterator.toSeq
      .flatMap { p =>
        val f = new File(table, p)
        Seq(f.getCanonicalPath -> p, f.getAbsolutePath -> p)
      }.distinct.toDF("__abs", "__src")
    df.withColumn("__abs",
        expr("regexp_replace(_metadata.file_path, '^file:/+', '/')"))
      .join(broadcast(lookup), Seq("__abs"), "left")
      .withColumn("__src",
        when(col("__src").isNull, raise_error(concat(
          lit("TxLog: scanned file resolves to no live log key: "),
          col("__abs"))))
          .otherwise(col("__src")))
      .drop("__abs")
  }

  /** Read a subset of a snapshot's live files with deletion vectors
    * applied: plain files scan directly; masked files carry their
    * physical (_metadata) row position through a left-anti join against
    * the recorded DV rows. The DV side is a trickle (deleted-row ids),
    * so the join broadcasts under AQE; at any scale the mask costs
    * O(masked files + dv rows), never a table rewrite — the
    * merge-on-read contract. */
  /** Mapped-schema projection: render `raw` (a scan of files written
    * under `writeFields`) as the `target` logical schema, resolving
    * columns BY FIELD ID — a renamed column aliases, a widened column
    * casts, a dropped id is omitted, an id the file predates (or that a
    * later drop+re-add gave a fresh id) null-fills. `keep` columns
    * (__base/__pos/__src bookkeeping) pass through untouched. */
  private def projectMapped(raw: DataFrame, writeFields: Seq[Field],
                            target: Seq[Field],
                            keep: Seq[String] = Nil): DataFrame = {
    val physById = writeFields.map(f => f._1 -> f._2).toMap
    val have = raw.columns.toSet
    raw.select(target.map { case (id, n, t) =>
      val dt = org.apache.spark.sql.types.DataType.fromDDL(t)
      physById.get(id).filter(have) match {
        case Some(pn) => col(pn).cast(dt).as(n)
        case None     => lit(null).cast(dt).as(n)
      }
    } ++ keep.map(col): _*)
  }

  /** Group `paths` by write-schema index and pair each group with its
    * write-time field list. `st` owns the paths; `mapSt` (a later or
    * equal state of the same table) owns the schema history — pre-
    * mapping files (epoch -1, or any file of an unmapped `st`) resolve
    * against the BASELINE (index 0), whose names ARE their physical
    * names by construction. */
  private def epochGroups(st: State, mapSt: State,
                          paths: Seq[String]): Seq[(Vector[Field], Seq[String])] = {
    val hist = if (st.mapped) st.schemas else mapSt.schemas
    paths.groupBy(p =>
        if (st.mapped) st.fileEpoch.getOrElse(p, -1) else -1)
      .toSeq.sortBy(_._1)
      .map { case (e, ps) => (if (e < 0) hist.head else hist(e), ps) }
  }

  /** Read a subset of a snapshot's live files under the current LOGICAL
    * schema: DV masks apply ([[readFilesRaw]]), and on a schema-mapped
    * table each write-schema epoch's files are read raw and projected
    * by field id to `mapTo`'s (default: `st`'s) current field list —
    * so files written before a rename/drop/widen read correctly under
    * the new names and types. `forceSchema` only concerns the unmapped
    * path (mapped output IS the snapshot schema by construction). */
  private def readFiles(spark: SparkSession, table: String, st: State,
                        paths: Seq[String],
                        forceSchema: Option[org.apache.spark.sql.types.StructType] = None,
                        mapTo: Option[State] = None): DataFrame = {
    val mapSt = mapTo.getOrElse(st)
    if (!mapSt.mapped)
      readFilesRaw(spark, table, st, paths, forceSchema)
    else epochGroups(st, mapSt, paths).map { case (fields, ps) =>
      projectMapped(readFilesRaw(spark, table, st, ps, None),
        fields, mapSt.curFields)
    }.reduce(_ unionByName _)
  }

  /** A FileIndex over exactly the files a snapshot names — the log is
    * the listing. Spark's own index would re-discover them (above 32
    * paths a distributed listing job, one empty task per file). The
    * driver stats each file once, when the planner first asks; a live
    * file that has gone missing fails the query loudly, since nothing
    * lists the directory to notice the gap otherwise. */
  private final case class LogFileIndex(rootPaths: Seq[Path])(
      conf: Configuration) extends FileIndex {
    private lazy val statuses: Array[FileStatus] =
      rootPaths.map(statLive(conf, _)).toArray
    def listFiles(partitionFilters: Seq[Expression],
                  dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, statuses))
    def inputFiles: Array[String] = statuses.map(_.getPath.toString)
    def refresh(): Unit = ()
    def sizeInBytes: Long = statuses.iterator.map(_.getLen).sum
    def partitionSchema: StructType = new StructType()
  }

  private def statLive(conf: Configuration, p: Path): FileStatus =
    try p.getFileSystem(conf).getFileStatus(p)
    catch {
      case e: java.io.FileNotFoundException =>
        throw new IllegalStateException(
          s"TxLog: live data file $p is missing — the snapshot names it, " +
            "so the read fails instead of returning the other files' rows", e)
    }

  /** Scan exactly `paths` (log keys of `table`) under `schema`, default
    * the footer schema of the first of them — what `spark.read.parquet`
    * infers without mergeSchema, minus its listing and inference jobs.
    * Callers pass paths that share one physical schema (an un-evolved
    * table, or one write-schema epoch of a mapped table). */
  private def scanFiles(spark: SparkSession, table: String,
                        paths: Seq[String],
                        schema: Option[StructType] = None): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val abs = paths.map(p => new Path(new File(table, p).getAbsolutePath))
    SqlBridge.parquetScan(spark, LogFileIndex(abs)(conf),
      schema.getOrElse(footerSchema(spark, statLive(conf, abs.head))))
  }

  // Footer schemas, memoized per data-file identity: path + length +
  // mtime. Data files are write-once under UUID-named dirs, and a table
  // deleted and recreated at the same path writes new files, so a key
  // can never be reused across incarnations. Bounded like replayCache.
  private val footerCache =
    scala.collection.concurrent.TrieMap[(String, Long, Long), StructType]()

  private def footerSchema(spark: SparkSession, f: FileStatus): StructType =
    footerCache.getOrElseUpdate(
      (f.getPath.toString, f.getLen, f.getModificationTime), {
        if (footerCache.size > 256) footerCache.clear()
        SqlBridge.parquetFooterSchema(spark, f)
      })

  /** Listing read with parquet schema merge — only for additively
    * evolved tables, whose union schema needs every file's footer. */
  private def mergedRead(spark: SparkSession, table: String,
                         paths: Seq[String]): DataFrame =
    spark.read.option("mergeSchema", "true")
      .parquet(paths.map(p => new File(table, p).getAbsolutePath): _*)

  private def readFilesRaw(spark: SparkSession, table: String, st: State,
                        paths: Seq[String],
                        forceSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val (masked, plain) = paths.partition(st.dvs.contains)
    // An evolved snapshot that splits into masked + plain groups must
    // NOT merge-read each group separately: if an evolution-added
    // column lives in only one group's files the two mergeSchema
    // results diverge and the union below would throw. Resolve the
    // union schema over ALL requested paths once (parquet footers
    // only, no data scan) and read both groups under it — missing
    // columns surface NULL, exactly the evolution contract.
    val schema0 = forceSchema.orElse {
      if (st.evolved && masked.nonEmpty && plain.nonEmpty)
        Some(mergedRead(spark, table, paths).schema)
      else None
    }
    def rd(ps: Seq[String]): DataFrame =
      if (st.evolved && schema0.isEmpty) mergedRead(spark, table, ps)
      else scanFiles(spark, table, ps, schema0)
    if (masked.isEmpty) rd(paths)
    else {
      val m = rd(masked)
        .withColumn("__base", srcBaseCol)
        .withColumn("__pos", col("_metadata.row_index"))
        .join(dvRows(spark, table, st, masked), Seq("__base", "__pos"),
          "left_anti")
        .drop("__base", "__pos")
      if (plain.isEmpty) m else rd(plain).unionByName(m)
    }
  }

  /** Anti-join `df` (a direct file scan — _metadata available) against
    * the DV rows named by explicit (dataFile, dvDir) pairs. The
    * commit-granular twin of the State-based mask in [[readFiles]],
    * used by the log subscribers where the mask set is a commit's own
    * or the prior version's dv lines rather than a snapshot's. */
  private def maskByDvPairs(spark: SparkSession, table: String,
                            df: DataFrame,
                            pairs: Seq[(String, String)]): DataFrame =
    if (pairs.isEmpty) df
    else joinByDvPairs(spark, table, df, pairs, "left_anti")

  private def joinByDvPairs(spark: SparkSession, table: String,
                            df: DataFrame, pairs: Seq[(String, String)],
                            joinType: String): DataFrame = {
    val dv = spark.read.parquet(pairs.map(_._2).distinct
        .map(d => new File(table, d).getAbsolutePath): _*)
      .select(expr("regexp_extract(path, '[^/]+$', 0)").as("__base"),
        col("pos").as("__pos"))
      .filter(col("__base").isin(
        pairs.map(x => baseName(x._1)).distinct: _*))
    df.withColumn("__base", srcBaseCol)
      .withColumn("__pos", col("_metadata.row_index"))
      .join(dv, Seq("__base", "__pos"), joinType)
      .drop("__base", "__pos")
  }

  /** Scan a commit's files for a streaming subscriber under the
    * stream's FIXED start-time schema: a direct forced-schema scan for
    * unmapped streams, per-epoch mask-then-project for mapped ones —
    * the DV mask join needs `_metadata`, which dies at the first
    * select, so masking must precede the field-id projection within
    * each epoch group. `st` is the state that owns the files (the
    * commit's version for adds, the prior version for removes);
    * `semi = true` selects the dv-named rows instead of masking them
    * (the CDC delete-event read). */
  private def scanCommitFiles(spark: SparkSession, table: String,
                              st: State, ps: Seq[String],
                              pairs: Seq[(String, String)], semi: Boolean,
                              schema: StructType,
                              startSt: State): DataFrame = {
    def dvJoin(raw: DataFrame): DataFrame =
      if (semi) {
        if (pairs.isEmpty) raw.filter(lit(false))
        else joinByDvPairs(spark, table, raw, pairs, "left_semi")
      } else maskByDvPairs(spark, table, raw, pairs)
    if (!startSt.mapped)
      dvJoin(scanFiles(spark, table, ps, Some(schema)))
    else epochGroups(st, startSt, ps).map { case (fields, g) =>
      projectMapped(dvJoin(scanFiles(spark, table, g)),
        fields, startSt.curFields)
    }.reduce(_ unionByName _)
  }

  /** The recorded DV rows masking `paths` — (__base, __pos) pairs. */
  private def dvRows(spark: SparkSession, table: String, st: State,
                     paths: Seq[String]): DataFrame = {
    val dvDirs = paths.flatMap(st.dvs).distinct
    val bases = paths.map(baseName)
    spark.read.parquet(
        dvDirs.map(d => new File(table, d).getAbsolutePath): _*)
      .select(expr("regexp_extract(path, '[^/]+$', 0)").as("__base"),
        col("pos").as("__pos"))
      .filter(col("__base").isin(bases: _*))
  }

  /** Snapshot rows + per-row provenance: every data column plus `__src`
    * (the rel-path key the log records for the source file) and `__pos`
    * (physical row index in that file), DV masks applied. The discovery
    * read behind [[deleteWhere]], [[merge]], and [[deleteWhereMor]] —
    * post-join `input_file_name()` is unreliable, metadata columns are
    * not. */
  private def readWithMeta(spark: SparkSession, table: String,
                           st: State): DataFrame = {
    val paths = st.live.keysIterator.toSeq
    def metaScan(ps: Seq[String]): DataFrame = withSrcKey(spark, table, st,
      (if (st.evolved) mergedRead(spark, table, ps)
       else scanFiles(spark, table, ps))
        .withColumn("__base", srcBaseCol)
        .withColumn("__pos", col("_metadata.row_index")))
    // mapped tables: scan+project per write-schema epoch (the mapping
    // must happen while _metadata is still in scope — metadata columns
    // do not survive a select)
    val base =
      if (!st.mapped) metaScan(paths)
      else epochGroups(st, st, paths).map { case (fields, ps) =>
        projectMapped(metaScan(ps), fields, st.curFields,
          keep = Seq("__src", "__base", "__pos"))
      }.reduce(_ unionByName _)
    (if (st.dvs.isEmpty) base
     else base.join(
       dvRows(spark, table, st, paths.filter(st.dvs.contains)),
       Seq("__base", "__pos"), "left_anti"))
      .drop("__base")
  }

  /** Atomically publish version `expected + 1` containing `actions`
    * (op -> relative path). Hard-link from a fully-written temp file:
    * link(2) is atomic and fails if the target exists, so exactly one
    * of two racing writers wins; the loser gets [[ConcurrentCommit]].
    */
  def commit(table: String, expected: Int,
             actions: Seq[(String, String)]): Int =
    commitLines(table, expected, actions.map { case (op, path) =>
      s"""{"op":"$op","path":"${jesc(path)}"}"""
    })

  private[operators] def commitLines(table: String, expected: Int,
                                     lines: Seq[String]): Int = {
    val next = expected + 1
    val d = logDir(table)
    d.mkdirs()
    val body = lines.mkString("", "\n", "\n")
    val tmp = Files.createTempFile(d.toPath, s".commit-", ".tmp")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.TRUNCATE_EXISTING)
    try {
      try Files.createLink(logFile(table, next).toPath, tmp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new ConcurrentCommit(
            s"version $next already committed (expected base $expected); " +
              "re-read the snapshot and retry")
      }
    } finally Files.deleteIfExists(tmp)
    maybeCheckpoint(table, next)
    next
  }

  /** OPTIMIZE: compact the live file set down to `targetFiles` as one
    * log commit (remove all live, add the compacted set) — the
    * maintenance op a streaming TxLog sink needs, since every
    * micro-batch commit adds at least one file. History before the
    * optimize stays time-travelable until vacuumed; a concurrent
    * append surfaces as ConcurrentCommit (read-modify-write, caller
    * retries on the fresh snapshot). */
  def optimize(spark: SparkSession, table: String,
               targetFiles: Int): Int = {
    val base = version(table)
    val live = files(table, Some(base))
    if (live.size <= targetFiles) return base
    val sub = s"data-${java.util.UUID.randomUUID().toString.take(8)}"
    read(spark, table, Some(base)).repartition(targetFiles)
      .write.parquet(new File(table, sub).getAbsolutePath)
    val actions = live.map(("remove", _)) ++
      newFiles(table, sub).map(("add", _))
    commit(table, base, actions)
  }

  /** OPTIMIZE ... ZORDER: compact the live set AND lay the result out
    * along the 2-D Morton curve of `(colA, colB)` (range-partitioned +
    * sorted on the interleaved key), recording fresh per-file min/max
    * stats for both columns — so after compaction [[readPrunedAll]]
    * prunes selectively on EITHER dimension. This is the maintenance op
    * that keeps data skipping alive on a table whose appends arrive in
    * arbitrary key order: at 100 TB, one clustered rewrite buys every
    * subsequent 2-D range query a few-file scan. Both columns must be
    * non-negative integral (Morton bit-interleave domain). History
    * before the optimize stays time-travelable until vacuumed; a
    * concurrent append surfaces as ConcurrentCommit (read-modify-write,
    * caller retries on the fresh snapshot). */
  def optimizeZorder(spark: SparkSession, table: String, targetFiles: Int,
                     colA: String, colB: String,
                     statsCols: Seq[String] = Nil): Int = {
    val base = version(table)
    val live = files(table, Some(base))
    val sub = s"data-${java.util.UUID.randomUUID().toString.take(8)}"
    val subAbs = new File(table, sub).getAbsolutePath
    read(spark, table, Some(base))
      .withColumn("__z", graft.functions.Fns.morton(col(colA), col(colB)))
      .repartitionByRange(targetFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.parquet(subAbs)
    val stats = if (statsCols.isEmpty) Seq(colA, colB) else statsCols
    val adds = addActions(spark, table, sub, subAbs, stats)
    val removeLines = live.map(p => s"""{"op":"remove","path":"${jesc(p)}"}""")
    commitLines(table, base, removeLines ++ adds)
  }

  /** SHALLOW CLONE: create `clone` as a new table whose first commit
    * references `source`'s current live files IN PLACE (relative
    * `../` paths) — a zero-copy branch: cloning a 100 TB table is one
    * metadata commit. Writes to the clone (appends, COW deletes,
    * merges, optimize) land under the clone's own directory and the
    * source never sees them; the clone carries the source's schema
    * posture, per-file stats, and CHECK constraints. Caveat shared
    * with every production shallow clone: vacuuming the SOURCE can
    * remove files the clone still references — vacuum sources only
    * after dropping their clones. */
  def cloneShallow(source: String, clone: String): Int = {
    require(version(source) >= 0, s"cloneShallow: no table at $source")
    require(version(clone) < 0, s"cloneShallow: $clone already exists")
    val st = replay(source, version(source))
    val cloneDir = new File(clone).toPath.toAbsolutePath
    val lines =
      (if (st.evolved) Seq("""{"op":"evolve","path":""}""") else Nil) ++
        // schema-mapping posture carries over: full history + per-add
        // write epochs, so the clone resolves old-epoch files by id
        st.schemas.toSeq.map(schemaLine) ++
        st.live.toSeq.flatMap { case (p, stats) =>
          def rel(x: String) = cloneDir.relativize(
            new File(source, x).toPath.toAbsolutePath).toString
          // bloom sidecar paths are table-relative: re-anchor them to
          // the clone like the data paths, or the clone's point
          // lookups would read a non-existent sidecar
          val stats2 = stats.map {
            case (k, cs) if cs.typ == "BS" => k -> cs.copy(lo = rel(cs.lo))
            case kv                        => kv
          }
          addLine(rel(p), stats2,
            ep = if (st.mapped) st.fileEpoch.getOrElse(p, -1)
                 else Int.MinValue) +:
            st.dvs.getOrElse(p, Vector.empty).map(d => dvLine(rel(p), rel(d)))
        } ++
        // Seen-txn markers carry over: an idempotent sink or mirror
        // redirected at the clone must NO-OP on batches the source
        // already applied — without these a redirect re-applies every
        // delivered batch (duplicate rows under exactly-once contracts).
        st.txns.toSeq.map(t0 => s"""{"op":"txn","path":"${jesc(t0)}"}""") ++
        st.checks.toSeq.map { case (n0, p0) =>
          s"""{"op":"check","path":"${jesc(n0)}","pred":"${jesc(p0)}"}"""
        }
    commitLines(clone, -1, lines)
  }

  /** RESTORE an earlier version as a NEW commit (roll forward to the
    * past): the target version's file set — per-file stats included —
    * becomes the live set again, while every intermediate version
    * stays time-travelable. History is never rewritten, so an audit
    * can still see both the bad data and the rollback that removed
    * it. Unchanged files carry over by reference (a restore after an
    * append is a metadata-only commit, no data I/O at any table
    * size). Fails loudly if the target's files were vacuumed past
    * retention. Returns the new version. */
  def restore(table: String, toVersion: Int): Int = {
    val targetSt = replay(table, toVersion)
    val target = targetSt.live.toSeq
    target.foreach { case (p, _) =>
      require(new File(table, p).exists(),
        s"restore: file $p of v$toVersion was vacuumed; cannot restore")
    }
    targetSt.dvs.valuesIterator.flatten.foreach { d =>
      require(new File(table, d).exists(),
        s"restore: deletion vector $d of v$toVersion was vacuumed")
    }
    val tgt = target.map(_._1).toSet
    retryCommit(table) { base =>
      val curSt = replay(table, base)
      val cur = curSt.live.keySet
      // a carried file whose DV set drifted from the target's is
      // re-ADDED (an add resets masks) and the target's dv lines are
      // re-emitted — restore across MOR deletes restores the masks too
      val addsAndDvs = target.flatMap { case (p, st) =>
        val tgtDvs = targetSt.dvs.getOrElse(p, Vector.empty)
        if (cur.contains(p) &&
          curSt.dvs.getOrElse(p, Vector.empty) == tgtDvs) Nil
        else addLine(p, st,
          ep = if (curSt.mapped) targetSt.fileEpoch.getOrElse(p, -1)
               else Int.MinValue) +: tgtDvs.map(dvLine(p, _))
      }
      // restore the target's LOGICAL SCHEMA too: a restore across a
      // rename/drop/widen re-emits the target's field list (or the
      // baseline, for a pre-mapping target) as a fresh schema epoch —
      // carried and re-added files keep their original write epochs,
      // so id resolution is unchanged
      val schemaLines =
        if (!curSt.mapped) Nil
        else {
          val restored =
            if (targetSt.mapped) targetSt.curFields else curSt.schemas.head
          if (restored == curSt.curFields) Nil else Seq(schemaLine(restored))
        }
      val lines =
        cur.filterNot(tgt).toSeq.sorted
          .map(p => s"""{"op":"remove","path":"${jesc(p)}"}""") ++
          schemaLines ++ addsAndDvs
      commitLines(table, base, lines)
    }
  }

  /** Stats type tag for a column's data type; None = unsupported (no
    * stats recorded, file conservatively never pruned on that column).
    * Decimals/timestamps are deliberately unsupported rather than
    * approximated — approximate bounds would WRONGLY prune. */
  private def tagOf(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some("L")
    case FloatType | DoubleType                        => Some("D")
    case StringType | DateType                         => Some("S")
    case _                                             => None
  }

  private def fmt(tag: String, v: Any): String = (tag, v) match {
    case ("L", n: Number) => n.longValue.toString
    case ("D", n: Number) => n.doubleValue.toString
    case _                => v.toString // "S": String / java.sql.Date ISO
  }

  /** Encode a query bound the same way append encodes stats values, so
    * pruning compares like with like. */
  private def encodeBound(v: Any): (String, String) = v match {
    case n @ (_: Byte | _: Short | _: Int | _: Long) =>
      ("L", n.asInstanceOf[Number].longValue.toString)
    case n @ (_: Float | _: Double) =>
      ("D", n.asInstanceOf[Number].doubleValue.toString)
    case other => ("S", other.toString)
  }

  /** Write `df` as new parquet files under the table and commit them as
    * an APPEND. Returns the new version. Retries on a lost race
    * (append never conflicts logically — the file set is additive) —
    * EXCEPT a raced first schema mapping, which changes what the
    * precomputed add lines would mean and surfaces as
    * [[ConcurrentSchemaChange]]; on an already-mapped table raced
    * schema mutations are harmless (the adds carry an explicit
    * write-epoch and resolve by field id).
    *
    * `statsCols`: record per-file min/max of these columns in the add
    * actions (computed in ONE distributed pass, grouped by
    * input_file_name) — the data-skipping index [[readPruned]] uses.
    * All-null columns within a file record no stats for that column
    * (the file is then never pruned on it). At 100 TB this is what
    * turns a key-range query from "scan the table" into "scan the few
    * files whose range overlaps".
    */
  def append(spark: SparkSession, df: DataFrame, table: String,
             statsCols: Seq[String] = Nil): Int = {
    // Pin ONE version and both validate and epoch-stamp against it. On
    // a mapped table the add lines then carry the write epoch
    // EXPLICITLY, so a schema mutation racing the commit retry can
    // never re-epoch these files: replay resolves them by field id
    // under the schema they were validated (and physically written)
    // against. On a not-yet-mapped table there is no epoch to stamp
    // (plain adds keep the compact line format); instead the retry
    // closure detects a first mapping landing mid-flight and surfaces
    // ConcurrentSchemaChange rather than committing lines that would
    // replay under the wrong epoch.
    val v0 = version(table)
    enforceSchema(spark, df, table, Some(v0))
    enforceChecks(spark, df, table)
    val schemasLen0 =
      if (v0 < 0) 0 else stateAt(table, Some(v0)).schemas.length
    val ep0 = if (schemasLen0 > 0) schemasLen0 - 1 else Int.MinValue
    val sub = s"data-${java.util.UUID.randomUUID().toString.take(8)}"
    val subAbs = new File(table, sub).getAbsolutePath
    df.write.parquet(subAbs)
    val adds = addActions(spark, table, sub, subAbs, statsCols, ep0)
    retryCommit(table) { base =>
      if (schemasLen0 == 0) guardSchemaUnchanged(table, base, schemasLen0)
      commitLines(table, base, adds)
    }
  }

  /** Schema-EVOLUTION append: the additive path every production log
    * format supports. The incoming frame must carry the table's
    * existing columns (same names + types, as a prefix) plus any number
    * of NEW columns; the commit records an explicit `evolve` action, and
    * from that version on [[read]] merges parquet schemas so rows from
    * pre-evolution files surface NULL in the new columns. Narrowing or
    * retyping stays rejected — evolution is additive-only, and it is an
    * explicit entry point, never an accident of a drifted writer. */
  def appendEvolve(spark: SparkSession, df: DataFrame, table: String,
                   statsCols: Seq[String] = Nil): Int = {
    val v = version(table)
    if (v < 0) return append(spark, df, table, statsCols)
    require(!stateAt(table, Some(v)).mapped,
      "appendEvolve on a schema-MAPPED table: column additions must go " +
        "through addColumn (so the new column gets a field id), then a " +
        "plain append")
    val existing = read(spark, table, Some(v)).schema
    def shape(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
    val (oldShape, newShape) = (shape(existing), shape(df.schema))
    require(newShape.take(oldShape.size) == oldShape,
      s"evolution must be additive: table has ${existing.simpleString}, " +
        s"append has ${df.schema.simpleString}")
    enforceChecks(spark, df, table)
    val sub = s"data-${java.util.UUID.randomUUID().toString.take(8)}"
    val subAbs = new File(table, sub).getAbsolutePath
    df.write.parquet(subAbs)
    val evolveMark =
      if (newShape.size > oldShape.size) Seq("""{"op":"evolve","path":""}""")
      else Nil
    val adds = evolveMark ++ addActions(spark, table, sub, subAbs, statsCols)
    retryCommit(table) { base =>
      // a first field-id mapping racing this evolve-append would give
      // these files (and the additive `evolve` mark) a post-mapping
      // epoch they were never validated under — surface, don't absorb
      guardSchemaUnchanged(table, base, schemasLen0 = 0)
      commitLines(table, base, adds)
    }
  }

  // ---------------------------------------------------------------------
  // NON-ADDITIVE schema evolution: rename / drop / type-widen / add,
  // backed by the field-id mapping ("schema" log actions + per-add
  // write-schema epochs). Metadata-only commits: NO data file is ever
  // rewritten by a schema change at any table size — old files keep
  // their physical layout and every read path resolves them by id.
  // A later COW rewrite (deleteWhere/merge/OPTIMIZE) materializes the
  // current schema for the files it touches, exactly as it materializes
  // deletion vectors.
  // ---------------------------------------------------------------------

  /** Current logical fields: the mapped field list, or (for a not-yet-
    * mapped table) a baseline assigning ids 1..n to the current schema
    * in order. */
  private def currentFields(spark: SparkSession, table: String,
                            st: State): Vector[Field] =
    if (st.mapped) st.curFields
    else read(spark, table).schema.fields.zipWithIndex.map {
      case (f, i) => (i + 1, f.name, f.dataType.sql)
    }.toVector

  /** Commit a schema mutation: the first mutation also records the
    * BASELINE schema (ids assigned to the pre-mutation columns) so
    * existing files resolve; every mutation appends the full new field
    * list as one metadata-only commit. */
  private def schemaMutate(spark: SparkSession, table: String)
                          (f: (Vector[Field], Int) => Vector[Field]): Int = {
    require(version(table) >= 0, s"no table at $table")
    retryCommit(table) { base =>
      val st = replay(table, base)
      val cur = currentFields(spark, table, st)
      // fresh ids mint above every id EVER used (full schema history,
      // not just the current fields): re-using a DROPPED field's id
      // would resurrect its values out of old files
      val mintId = (st.schemas.flatten.map(_._1) ++ cur.map(_._1)).max + 1
      val next = f(cur, mintId)
      require(next.nonEmpty, "schema mutation would drop every column")
      val lines =
        (if (st.mapped) Nil else Seq(schemaLine(cur))) :+ schemaLine(next)
      commitLines(table, base, lines)
    }
  }

  /** RENAME a column (metadata-only; old files read under the new name
    * via their field id). CHECK constraints and recorded stats keep the
    * old name: stats still prune (the read side translates the query
    * column back to each file's write-time name), but a CHECK predicate
    * naming the old column will fail loudly on the next write — re-add
    * the constraint under the new name. */
  def renameColumn(spark: SparkSession, table: String,
                   from: String, to: String): Int =
    schemaMutate(spark, table) { (cur, _) =>
      require(cur.exists(_._2 == from), s"renameColumn: no column '$from'")
      require(!cur.exists(_._2 == to),
        s"renameColumn: column '$to' already exists")
      cur.map { case f @ (i, n, t) => if (n == from) (i, to, t) else f }
    }

  /** DROP a column (metadata-only). The data stays in old files but no
    * read path surfaces it; re-adding the same NAME later mints a fresh
    * field id, so old values never resurrect under it — the core
    * field-id guarantee. */
  def dropColumn(spark: SparkSession, table: String, name: String): Int =
    schemaMutate(spark, table) { (cur, _) =>
      require(cur.exists(_._2 == name), s"dropColumn: no column '$name'")
      cur.filterNot(_._2 == name)
    }

  /** WIDEN a column's type (metadata-only; old files cast on read —
    * every allowed widening is value-exact). Allowed: integral upcasts
    * (byte/short/int toward long) and float->double. */
  def widenColumn(spark: SparkSession, table: String, name: String,
                  to: DataType): Int =
    schemaMutate(spark, table) { (cur, _) =>
      val f = cur.find(_._2 == name)
        .getOrElse(throw new IllegalArgumentException(
          s"widenColumn: no column '$name'"))
      val from = org.apache.spark.sql.types.DataType.fromDDL(f._3)
      val ok = (from, to) match {
        case (ByteType, ShortType | IntegerType | LongType) => true
        case (ShortType, IntegerType | LongType)            => true
        case (IntegerType, LongType)                        => true
        case (FloatType, DoubleType)                        => true
        case _                                              => false
      }
      require(ok, s"widenColumn: ${from.simpleString} -> " +
        s"${to.simpleString} is not a lossless widening")
      cur.map { case g @ (i, n, _) =>
        if (n == name) (i, n, to.sql) else g }
    }

  /** ADD a column with a fresh field id (the mapped-table counterpart
    * of [[appendEvolve]]): existing files null-fill it; subsequent
    * appends must carry it. */
  def addColumn(spark: SparkSession, table: String, name: String,
                to: DataType): Int =
    schemaMutate(spark, table) { (cur, mintId) =>
      require(!cur.exists(_._2 == name),
        s"addColumn: column '$name' already exists")
      cur :+ ((mintId, name, to.sql))
    }

  private def addActions(spark: SparkSession, table: String, sub: String,
                         subAbs: String, statsCols: Seq[String],
                         ep: Int = Int.MinValue): Seq[String] = {
    if (statsCols.isEmpty)
      return newFiles(table, sub).map(p => addLine(p, Map.empty, ep))
    // "bloom:c" requests a per-file Bloom filter on c (point-lookup
    // skipping); bare names request min/max range stats
    val (bloomSpecs, plainCols) = statsCols.partition(_.startsWith("bloom:"))
    val bloomCols = bloomSpecs.map(_.stripPrefix("bloom:"))
    val written0 = spark.read.parquet(subAbs)
    val tagged = plainCols.map { c =>
      val f = written0.schema(c)
      val t = tagOf(f.dataType).getOrElse(throw new IllegalArgumentException(
        s"stats unsupported for column $c: ${f.dataType.simpleString}"))
      (c, t)
    }
    // ONE data readback per commit, whatever the column mix (pre-r11
    // this cost 1 range pass + 2 passes PER bloom column — at 100 TB
    // of freshly written files, multiple extra full scans): a single
    // groupBy(file) computes every range column's min/max, every
    // bloom column's HLL NDV, AND every bloom column's filter — built
    // executor-side by BloomBuildAgg at a sizing clamp, then folded
    // down to the NDV-derived target on the driver. The fold is
    // bit-exact, not approximate: filter sizes are powers of two and
    // probe positions are `h mod m`, so position(m) = position(M) mod
    // m whenever m | M — OR-ing the clamp filter's m-bit blocks
    // yields EXACTLY the filter a direct m-bit build would produce.
    // Memory envelope: each in-flight (file, bloom column) group
    // buffers clampBits/8 bytes until merged, so a commit costs up to
    // (#files × #bloom columns × clampBits/8) of executor+shuffle
    // state. A FIXED clamp (512 KiB) makes a many-small-files commit
    // pay that worst case for filters that fold to 1 KiB — so the
    // clamp is DERIVED per commit: a file's NDV is at most its row
    // count, so bloomBitsFor(max file row count) already bounds every
    // file's target size, and since sizes are powers of two it
    // divides cleanly for the fold. The row counts come from a
    // zero-data-column pass (no data column is read or decoded, but
    // it IS a Spark job that emits one row per record into a
    // per-file-group count — cheap, not metadata-only; the "one
    // readback" above counts DATA passes).
    val clampBits =
      if (bloomCols.isEmpty) BloomClampBits
      else {
        val r = written0.groupBy(input_file_name()).count()
          .agg(max("count")).collect()(0)
        if (r.isNullAt(0)) BloomClampBits else bloomBitsFor(r.getLong(0))
      }
    val written = bloomCols.zipWithIndex.foldLeft(written0) {
      case (df, (c, j)) =>
        df.withColumn(s"__h$j", graft.functions.Fns.h60(col(c)))
    }
    val rangeAggs = tagged.zipWithIndex.flatMap { case ((c, _), i) =>
      Seq(min(col(c)).as(s"lo$i"), max(col(c)).as(s"hi$i"))
    }
    val bloomAggs = bloomCols.indices.flatMap { j =>
      Seq(approx_count_distinct(col(s"__h$j")).as(s"ndv$j"),
        graft.plans.BloomBuildAgg(col(s"__h$j"), lit(clampBits))
          .as(s"fw$j"))
    }
    val aggs = rangeAggs ++ bloomAggs
    val statRows = written.groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // one row per FILE: min/max scalars + finished filters
    val byFileRange: Map[String, Map[String, ColStats]] =
      statRows.map { r =>
        val stats = tagged.zipWithIndex.flatMap { case ((c, t), i) =>
          val (loI, hiI) = (1 + 2 * i, 2 + 2 * i)
          if (r.isNullAt(loI) || r.isNullAt(hiI)) None // all-null file
          else Some(c ->
            ColStats(t, fmt(t, r.get(loI)), fmt(t, r.get(hiI))))
        }.toMap
        new File(new java.net.URI(r.getString(0))).getName -> stats
      }.toMap
    val byFileBloom: Map[String, Map[String, ColStats]] =
      statRows.map { r =>
        val name = new File(new java.net.URI(r.getString(0))).getName
        val kvs = bloomCols.zipWithIndex.map { case (c, j) =>
          val base = 1 + 2 * tagged.length
          val ndv = r.getLong(base + 2 * j)
          val clampBytes = r.getAs[Array[Byte]](base + 2 * j + 1)
          val words = foldBloom(clampBytes, bloomBitsFor(ndv))
          // big filters leave the log: above the threshold the words
          // go to a binary SIDECAR next to the data files (the log
          // line carries only its relative path) — inline hex on a
          // 1e9-NDV file would put ~1 MiB into EVERY add line and
          // checkpoint; the sidecar keeps log lines O(path) at any
          // NDV while the read side lazy-loads + memoizes the words
          val stat =
            if (words.length * 64L >= BloomSidecarMinBits) {
              val fn = s"$sub/bloom-" +
                s"${name.stripSuffix(".parquet")}-" +
                s"${c.replaceAll("[^A-Za-z0-9_]", "_")}.bin"
              // sidecar encoding = big-endian long words
              val bb = java.nio.ByteBuffer.allocate(words.length * 8)
              bb.asLongBuffer().put(words)
              Files.write(new File(table, fn).toPath, bb.array())
              ColStats("BS", fn, "")
            } else
              ColStats("B", words.map(w => f"$w%016x").mkString, "")
          s"bloom:$c" -> stat
        }.toMap
        name -> kvs
      }.toMap
    newFiles(table, sub).map { p =>
      val name = new File(p).getName
      addLine(p, byFileRange.getOrElse(name, Map.empty) ++
        byFileBloom.getOrElse(name, Map.empty), ep)
    }
  }

  /** Sizing-clamp ceiling: the largest filter a file may carry, and
    * therefore the size every in-flight build buffer allocates in the
    * fused stats pass (see [[addActions]] — built once at the clamp,
    * folded down to the NDV target on the driver). */
  private val BloomClampBits = 1L << 22

  /** Filter size for a file: next power of two >= ~10 bits per
    * distinct key (FP ~1e-2 per probe^4 ≈ 1e-4 per file), clamped to
    * [1 KiB, [[BloomClampBits]]] of bits. Power-of-two so the read
    * side derives the modulus from the stored hex length alone. */
  private def bloomBitsFor(ndv: Long): Long = {
    var b = 1024L
    while (b < ndv * 10 && b < BloomClampBits) b <<= 1
    b
  }

  /** Fold a clamp-size filter down to `targetBits`: out[i mod w] |=
    * in[i]. Bit-exact because sizes are powers of two and probe
    * positions are `h mod m` — position(m) = position(M) mod m when
    * m | M, and m | M holds by construction, so every set clamp bit
    * lands on exactly the bit a direct m-bit build would set. */
  private def foldBloom(bytes: Array[Byte], targetBits: Long): Array[Long] = {
    val big = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(big)
    val w = (targetBits / 64).toInt
    if (big.length <= w) big
    else {
      val out = new Array[Long](w)
      var i = 0
      while (i < big.length) { out(i % w) |= big(i); i += 1 }
      out
    }
  }

  /** Driver-side mirror of [[graft.functions.Fns.h60]]: first 15 hex
    * chars of md5 of the value's STRING form (the bloom hashes every
    * column through its string cast, so lookups are type-agnostic). */
  private def h60OfString(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Probe positions for a filter of `bits` (power of two), mirroring
    * the write side's double hashing. */
  private def bloomPositions(h: Long, bits: Long): Seq[Int] = {
    val h1 = h & ((1L << 30) - 1)
    val h2 = (h >>> 30) | 1L
    (0 until 4).map(i => ((h1 + i * h2) % bits).toInt)
  }

  /** Bloom-skipped POINT LOOKUP: scan only the files whose per-file
    * Bloom filter (recorded at append time via a `bloom:col` stats
    * spec) may contain `value` — the skipping primitive min/max range
    * stats cannot provide on a randomly-laid high-cardinality key,
    * where every file spans the whole domain. Filters are NDV-sized at
    * write time (~10 bits per distinct key, 4 double-hashed probes →
    * ~1e-4 false positives per file at any file size, the same knob
    * production formats turn); a false positive costs one extra file
    * scan, never a wrong result. Files with no recorded bloom for the
    * column are conservatively kept. */
  def readPoint(spark: SparkSession, table: String, col0: String,
                value: Any): DataFrame = {
    val kept = bloomKeptFiles(table, col0, value)
    if (kept.isEmpty) emptyLike(spark, table)
    else readFiles(spark, table, stateAt(table, None), kept)
      .filter(col(col0) === lit(value))
  }

  /** Live files whose recorded bloom for `col0` may contain `value`
    * (files without a bloom count as kept) — the pruning decision
    * [[readPoint]] acts on, exposed for assertions. */
  def bloomKeptFiles(table: String, col0: String, value: Any): Seq[String] = {
    val h = h60OfString(String.valueOf(value))
    val st = stateAt(table, None)
    st.live.toSeq.collect {
      case (p, stats) if statKeyFor(st, p, col0)
        .map(k => s"bloom:$k").flatMap(stats.get).forall { cs =>
          val words = bloomWordsOf(table, cs)
          val pos = bloomPositions(h, words.length.toLong * 64)
          pos.forall(b => (words(b >> 6) & (1L << (b & 63))) != 0L)
        } => p
    }
  }

  /** Inline blooms above this bit count move to a binary sidecar file
    * (64 KiB of filter = ~52k NDV at 10 bits/key); below it the hex
    * stays in the add line (cheap, rides checkpoints verbatim). */
  private val BloomSidecarMinBits = 1L << 19

  // Sidecar word cache: sidecars live in immutable UUID-named data
  // subdirs, so an absolute path's content never changes — load once
  // per JVM. Bounded like the replay cache.
  private val sidecarCache =
    scala.collection.concurrent.TrieMap[String, Array[Long]]()

  /** Filter words for a bloom stats entry: inline hex ("B") or
    * sidecar-backed ("BS", lazy-loaded + memoized). */
  private def bloomWordsOf(table: String, cs: ColStats): Array[Long] =
    if (cs.typ != "BS") cs.bloomWords
    else sidecarCache.getOrElseUpdate(
      new File(table, cs.lo).getAbsolutePath, {
        if (sidecarCache.size > 1024) sidecarCache.clear()
        val bytes = Files.readAllBytes(new File(table, cs.lo).toPath)
        val words = new Array[Long](bytes.length / 8)
        java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(words)
        words
      })

  /** The stats-map key for query column `c` on file `p`: stats are
    * recorded under the column's WRITE-TIME name, so on a mapped table
    * the current name translates through the field id to the name the
    * file's write schema used — data skipping survives renames. None =
    * the file's write schema has no such field (conservatively kept:
    * its rows are all-NULL there and the residual filter drops them).
    */
  private def statKeyFor(st: State, p: String, c: String): Option[String] =
    if (!st.mapped) Some(c)
    else st.curFields.find(_._2 == c).flatMap { case (id, _, _) =>
      val e = st.fileEpoch.getOrElse(p, -1)
      val fields = if (e < 0) st.schemas.head else st.schemas(e)
      fields.find(_._1 == id).map(_._2)
    }

  /** Optimistic-concurrency retry loop: re-read the latest version and
    * re-attempt the commit until it lands (bounded — 64 lost races in a
    * row means something is pathologically wrong, fail loudly). Correct
    * only for commits whose actions stay valid on a moved base (appends
    * and txn markers); read-modify-write commits like deleteWhere must
    * instead recompute from the fresh snapshot, so they surface the
    * conflict to the caller. */
  private def retryCommit(table: String)(attempt: Int => Int): Int = {
    var lastErr: ConcurrentCommit = null
    for (_ <- 0 until 64) {
      try return attempt(version(table))
      catch {
        // a raced schema action is NOT fixable by re-CAS'ing the same
        // lines — surface it (the caller must revalidate)
        case e: ConcurrentSchemaChange => throw e
        case e: ConcurrentCommit       => lastErr = e
      }
    }
    throw lastErr
  }

  /** Guard used inside [[retryCommit]] closures whose add lines carry NO
    * explicit write-epoch: if the table acquired a field-id mapping
    * after the write was validated (schemas appeared or grew), the
    * precomputed lines would silently replay under the post-mutation
    * epoch — physical names pre-mutation, logical schema post — and
    * every mapped read would null-fill the renamed columns. Throw
    * instead; the caller revalidates. `schemasLen0` = schema-history
    * length observed at validation time. */
  private def guardSchemaUnchanged(table: String, base: Int,
                                   schemasLen0: Int): Unit = {
    val len = if (base < 0) 0 else replay(table, base).schemas.length
    if (len != schemasLen0)
      throw new ConcurrentSchemaChange(
        s"schema mutation committed concurrently with this append " +
          s"(schema history $schemasLen0 -> $len); revalidate the frame " +
          "against the new schema and retry the write")
  }

  /** Commit interval at which a checkpoint of the full live state is
    * folded next to the log (the published-format answer to "replay
    * 1e5 commits to plan one query"): reads start from the newest
    * checkpoint at or below the requested version and replay only the
    * suffix. The checkpoint carries per-file stats AND the seen txn-id
    * set, so both data skipping and idempotent-sink dedup stay O(recent
    * commits). Checkpoints are an OPTIMIZATION — every log file is
    * kept, so any version stays replayable without one. */
  private val CheckpointEvery = 16

  private def checkpointFile(table: String, v: Int): File =
    new File(logDir(table), f"$v%08d.checkpoint")

  private def maybeCheckpoint(table: String, v: Int): Unit =
    if (v > 0 && v % CheckpointEvery == 0) {
      val st = replay(table, v)
      val body = ((if (st.evolved) Seq("""{"op":"evolve","path":""}""") else Nil) ++
        // full schema history first (indices preserved), then adds with
        // explicit write-schema epochs — folding loses line order
        // relative to schema actions, so the epoch rides each add
        st.schemas.toSeq.map(schemaLine) ++
        st.live.toSeq.map { case (p, stats) =>
          addLine(p, stats,
            ep = if (st.mapped) st.fileEpoch.getOrElse(p, -1)
                 else Int.MinValue)
        } ++
        st.dvs.toSeq.flatMap { case (p, ds) => ds.map(dvLine(p, _)) } ++
        st.txns.toSeq.map(t => s"""{"op":"txn","path":"${jesc(t)}"}""") ++
        st.checks.toSeq.map { case (n0, p0) =>
          s"""{"op":"check","path":"${jesc(n0)}","pred":"${jesc(p0)}"}"""
        })
        .mkString("", "\n", "\n")
      val tmp = Files.createTempFile(logDir(table).toPath, ".ckpt-", ".tmp")
      Files.write(tmp, body.getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.TRUNCATE_EXISTING)
      try Files.createLink(checkpointFile(table, v).toPath, tmp)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      finally Files.deleteIfExists(tmp)
    }

  /** Data-skipping read: prune files whose recorded per-column [min,
    * max] cannot intersect the requested bounds BEFORE Spark ever lists
    * them — log-level skipping on top of parquet's own row-group
    * pruning. A file survives unless EVERY requested column proves it
    * disjoint: files without stats for a column (or with stats recorded
    * under a different type) are conservatively kept. The residual
    * filter still applies (stats prune files, not rows). */
  def readPrunedAll(spark: SparkSession, table: String,
                    bounds: Seq[(String, Any, Any)]): DataFrame = {
    require(bounds.nonEmpty, "readPrunedAll needs at least one bound")
    val enc = bounds.map { case (c, lo, hi) =>
      val (tLo, sLo) = encodeBound(lo)
      val (tHi, sHi) = encodeBound(hi)
      require(tLo == tHi, s"bound type mismatch on $c: $lo vs $hi")
      (c, tLo, sLo, sHi)
    }
    val stPr = stateAt(table, None)
    val kept = stPr.live.toSeq.collect {
      case (p, stats) if enc.forall { case (c, t, lo, hi) =>
        statKeyFor(stPr, p, c).flatMap(stats.get)
          .forall(_.overlaps(t, lo, hi))
      } => p
    }
    val residual = bounds.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _)
    // every file pruned: a pathless scan can't infer a schema — return
    // the (correct) empty result under the table's own schema instead
    if (kept.isEmpty) emptyLike(spark, table)
    else readFiles(spark, table, stateAt(table, None), kept)
      .filter(residual)
  }

  /** Empty frame under the table's schema, from ONE live file's footer
    * (never a full-table frame — a DV-masked one would list its DV
    * directories). */
  private def emptyLike(spark: SparkSession, table: String): DataFrame = {
    val st = stateAt(table, None)
    val schema =
      if (st.mapped) StructType(st.curFields.map { case (_, n, t) =>
        StructField(n, org.apache.spark.sql.types.DataType.fromDDL(t))
      })
      else if (st.evolved) read(spark, table).schema // rare: needs the merge
      else scanFiles(spark, table, st.live.keysIterator.take(1).toSeq).schema
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Single-Long-column data-skipping read (common key-range case). */
  def readPruned(spark: SparkSession, table: String, col0: String,
                 lo: Long, hi: Long): DataFrame =
    readPrunedAll(spark, table, Seq((col0, lo, hi)))

  /** Transaction ids recorded in the log (see [[appendIdempotent]]).
    * Rides checkpoints: O(suffix since last checkpoint), not O(log) —
    * a long-running streaming sink accumulates thousands of commits
    * and pays this on every micro-batch. */
  def txns(table: String): Set[String] = {
    val latest = version(table)
    if (latest < 0) Set.empty
    else replay(table, latest).txns.toSet
  }

  /** Exactly-once append: commit `df` tagged with `txn`, or do nothing
    * if that transaction id is already in the log. This is the sink
    * contract a streaming foreachBatch needs — Spark may re-invoke the
    * same (batchId, data) after a failure, and the re-delivery must not
    * double-append. The txn check and the commit race safely: if two
    * deliveries interleave, the loser's commit throws ConcurrentCommit,
    * it re-reads the log, sees its txn committed, and returns. Orphaned
    * data files from the losing writer are unreferenced by the log and
    * invisible to readers (vacuum-able), never double-counted.
    */
  def appendIdempotent(spark: SparkSession, df: DataFrame, table: String,
                       txn: String): Int = {
    if (txns(table).contains(txn)) return version(table)
    // same write-side contract as append: a drifted-schema batch must
    // fail at commit time, not poison reads — on a schema-MAPPED table
    // a physical-name drift would otherwise silently null-fill on
    // every mapped read of the file. Same write-epoch discipline too
    // (pin one version; stamp the epoch on mapped tables, guard the
    // unmapped->mapped transition otherwise) — see [[append]].
    val v0 = version(table)
    enforceSchema(spark, df, table, Some(v0))
    enforceChecks(spark, df, table)
    val schemasLen0 =
      if (v0 < 0) 0 else stateAt(table, Some(v0)).schemas.length
    val ep0 = if (schemasLen0 > 0) schemasLen0 - 1 else Int.MinValue
    val sub = s"data-${java.util.UUID.randomUUID().toString.take(8)}"
    df.write.parquet(new File(table, sub).getAbsolutePath)
    val lines = s"""{"op":"txn","path":"${jesc(txn)}"}""" +:
      newFiles(table, sub).map(p => addLine(p, Map.empty, ep0))
    retryCommit(table) { base =>
      if (txns(table).contains(txn)) base // a racing delivery won: no-op
      else {
        if (schemasLen0 == 0) guardSchemaUnchanged(table, base, schemasLen0)
        commitLines(table, base, lines)
      }
    }
  }

  /** File-granular copy-on-write delete: rewrite only the files that
    * contain matching rows; everything else carries over by reference
    * in the log. Returns the new version (unchanged if nothing matched).
    *
    * Survivors are the rows where `pred` is NOT TRUE — under SQL
    * three-valued logic a NULL predicate must KEEP the row (it did not
    * match the delete), so the survivor filter is
    * `NOT coalesce(pred, false)`, never `!pred` (which drops NULLs
    * from both sides).
    */
  def deleteWhere(spark: SparkSession, table: String,
                  pred: org.apache.spark.sql.Column): Int = {
    val base = version(table)
    val st = stateAt(table, Some(base))
    val snap = read(spark, table, Some(base))
    val affected = readWithMeta(spark, table, st).filter(pred)
      .select(col("__src")).distinct()
      .collect().map(_.getString(0)).toSeq // file METADATA, not data
    if (affected.isEmpty) return base
    // explicit snapshot schema: fills evolution-added columns with NULL
    // even when every affected file predates the evolution. DV masks
    // apply, so rows an earlier MOR delete removed stay removed in the
    // rewrite (which then materializes them — the remove drops the DVs).
    val survivors = readFiles(spark, table, st, affected,
        forceSchema = Some(snap.schema))
      .filter(!coalesce(pred, lit(false)))
    val sub = s"data-${java.util.UUID.randomUUID().toString.take(8)}"
    survivors.write.parquet(new File(table, sub).getAbsolutePath)
    val actions = affected.map(("remove", _)) ++
      newFiles(table, sub).map(("add", _))
    commit(table, base, actions) // conflict => caller retries from snapshot
  }

  /** MERGE-ON-READ delete: record the doomed rows as a DELETION VECTOR
    * — (source file, physical row position) pairs written as one small
    * parquet artifact and attached to the affected files in the log —
    * instead of rewriting the files (the [[deleteWhere]] COW path).
    * Every read path ([[read]], [[readPruned]]/[[readPrunedAll]],
    * [[readPoint]], [[changes]], [[streamCdc]]) applies the mask via a
    * left-anti join on (file, pos); a later COW rewrite/OPTIMIZE of a
    * masked file materializes the deletes and drops its DVs. This is
    * the delete a trickle-delete workload wants at 100 TB: commit cost
    * is O(deleted rows), not O(affected files) of rewrite I/O — the
    * read-side join is the price, which compaction amortizes away.
    * MOR deletes COMPOSE: positions are physical, each visible row is
    * masked by at most one DV, and re-deleting an already-masked row is
    * a no-op because discovery reads through the existing masks.
    * Read-modify-write: a concurrent commit surfaces as
    * [[ConcurrentCommit]] (retry from the fresh snapshot). */
  def deleteWhereMor(spark: SparkSession, table: String,
                     pred: org.apache.spark.sql.Column): Int = {
    val base = version(table)
    val st = stateAt(table, Some(base))
    val dvSub = s"dv-${java.util.UUID.randomUUID().toString.take(8)}"
    readWithMeta(spark, table, st).filter(pred)
      .select(col("__src").as("path"), col("__pos").as("pos"))
      .write.parquet(new File(table, dvSub).getAbsolutePath)
    val affected = spark.read
      .parquet(new File(table, dvSub).getAbsolutePath)
      .select("path").distinct()
      .collect().map(_.getString(0)).sorted.toSeq // file METADATA
    if (affected.isEmpty) return base // nothing matched; dv dir unreferenced
    commitLines(table, base, affected.map(dvLine(_, dvSub)))
  }

  /** Per-file deletion-vector pressure for one live file: total rows,
    * dv-masked rows, and the masked fraction the maintenance policy
    * ([[optimizeDvCompact]]) thresholds on. */
  final case class DvMetric(path: String, rows: Long, masked: Long) {
    def fraction: Double = if (rows == 0L) 0.0 else masked.toDouble / rows
  }

  /** DV pressure per masked live file — the observability half of the
    * maintenance policy. Cost is O(masked files + dv rows): the row
    * totals come from an empty-projection count over ONLY the masked
    * files (parquet answers it from row-group metadata) and the masked
    * counts from the dv parquet itself (deleted-row-sized). Unmasked
    * files never appear (their pressure is 0 by construction).
    *
    * `asOf` pins the snapshot: [[optimizeDvCompact]] passes its commit
    * base so the doomed-file list and the CAS base are the SAME
    * version — a commit landing mid-call can then never make the
    * metrics describe a different snapshot than the one the rewrite
    * compare-and-swaps against. */
  def dvMetrics(spark: SparkSession, table: String,
                asOf: Option[Int] = None): Seq[DvMetric] = {
    val st = stateAt(table, asOf)
    val maskedPaths = st.live.keysIterator.filter(st.dvs.contains).toSeq
    if (maskedPaths.isEmpty) return Nil
    val totals = scanFiles(spark, table, maskedPaths)
      .groupBy(srcBaseCol.as("__base")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val dvCounts = dvRows(spark, table, st, maskedPaths)
      .groupBy(col("__base")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    maskedPaths.map { p =>
      val b = baseName(p)
      DvMetric(p, totals.getOrElse(b, 0L), dvCounts.getOrElse(b, 0L))
    }
  }

  /** DV MAINTENANCE: materialize (rewrite) exactly the live files whose
    * dv-masked fraction has reached `maxMaskedFraction`, leaving
    * lightly-masked files — and their cheap merge-on-read masks —
    * alone. This is the missing half of the MOR contract: deletion
    * vectors keep DELETE cost O(deleted rows), and this policy keeps
    * READ cost from degrading as masks accumulate, by folding only the
    * files where the mask has grown from a trickle into a significant
    * share of the file. A full [[optimize]] also materializes DVs but
    * rewrites the whole table; at 100 TB the policy rewrite is
    * O(heavily-masked files), which a trickle-delete workload keeps
    * small and stable. Read-modify-write: a concurrent commit surfaces
    * as [[ConcurrentCommit]] (retry from the fresh snapshot). Returns
    * the unchanged version when no file crosses the threshold. */
  def optimizeDvCompact(spark: SparkSession, table: String,
                        maxMaskedFraction: Double): Int = {
    require(maxMaskedFraction > 0.0 && maxMaskedFraction <= 1.0,
      s"maxMaskedFraction must be in (0, 1], got $maxMaskedFraction")
    val base = version(table)
    val doomed = dvMetrics(spark, table, Some(base))
      .filter(_.fraction >= maxMaskedFraction).map(_.path)
    if (doomed.isEmpty) return base
    val st = stateAt(table, Some(base))
    val snapSchema = read(spark, table, Some(base)).schema
    val sub = s"data-${java.util.UUID.randomUUID().toString.take(8)}"
    // survivors only (the mask applies in readFiles); one output file
    // per input file keeps the table's file granularity stable
    readFiles(spark, table, st, doomed, forceSchema = Some(snapSchema))
      .repartition(doomed.size)
      .write.parquet(new File(table, sub).getAbsolutePath)
    val actions = doomed.map(("remove", _)) ++
      newFiles(table, sub).map(("add", _))
    commit(table, base, actions)
  }

  /** File-granular MERGE (upsert): matched keys take the update row's
    * values, unmatched update keys insert — and ONLY the files that
    * contain a matched key are rewritten (discovered with a left-semi
    * join at file grain); every other file carries over by reference.
    * This is the log-backed upgrade of the full-outer-join COW upsert:
    * at 100 TB a trickle of updates rewrites the few overlapping files,
    * not the table. Conflicts surface to the caller (read-modify-write
    * cannot blindly retry on a moved base). */
  def merge(spark: SparkSession, table: String, updates: DataFrame,
            key: String): Int = {
    enforceSchema(spark, updates, table)
    enforceChecks(spark, updates, table)
    val base = version(table)
    val st = stateAt(table, Some(base))
    val snap = read(spark, table, Some(base))
    val affected = readWithMeta(spark, table, st)
      .join(updates.select(col(key)), Seq(key), "left_semi")
      .select(col("__src")).distinct()
      .collect().map(_.getString(0)).toSeq // file METADATA, not data
    val sub = s"data-${java.util.UUID.randomUUID().toString.take(8)}"
    val newData =
      if (affected.isEmpty) updates // pure insert
      else {
        readFiles(spark, table, st, affected,
            forceSchema = Some(snap.schema))
          .join(updates.select(col(key)), Seq(key), "left_anti")
          .select(snap.columns.toIndexedSeq.map(col): _*)
          .unionByName(updates.select(snap.columns.toIndexedSeq.map(col): _*))
      }
    newData.write.parquet(new File(table, sub).getAbsolutePath)
    val actions = affected.map(("remove", _)) ++
      newFiles(table, sub).map(("add", _))
    commit(table, base, actions)
  }

  /** CHANGE FEED between two versions — the CDC read every log-backed
    * format grows (published as Delta's table_changes / CDF): the rows
    * inserted and deleted between `fromV` (exclusive) and `toV`
    * (inclusive), each tagged in a `_change` column. Derived purely
    * from the log's FILE diff: only files added or removed between the
    * versions are read; carried-over files are never touched — at
    * 100 TB a trickle of commits yields a trickle-sized feed scan.
    * Copy-on-write rewrites mean row changes = addedRows EXCEPT ALL
    * removedRows (and the reverse for deletes): multiset semantics, so
    * rows merely carried through a rewrite cancel, duplicates
    * included. An update therefore surfaces as delete(old)+insert(new)
    * — the classic CDF upsert pair. Both sides read under the `toV`
    * snapshot schema, so the feed is well-typed across schema
    * evolution (pre-evolution files surface NULL in added columns). */
  def changes(spark: SparkSession, table: String,
              fromV: Int, toV: Int): DataFrame = {
    require(fromV <= toV, s"changes: fromV $fromV > toV $toV")
    val stB = stateAt(table, Some(fromV))
    val stA = stateAt(table, Some(toV))
    val before = stB.live.keySet.toSet
    val after = stA.live.keySet.toSet
    val schema = read(spark, table, Some(toV)).schema
    def empty0 =
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    // each side reads under ITS OWN version's DV masks: a row both
    // inserted and dv-deleted inside the range nets out to no change.
    // mapTo = the toV state: across a schema mutation both sides render
    // under toV's field list (ids bridge the rename/widen), so the feed
    // stays well-typed and union-compatible
    def rd(st: State, ps: Seq[String]): DataFrame =
      if (ps.isEmpty) empty0
      else readFiles(spark, table, st, ps, forceSchema = Some(schema),
        mapTo = Some(stA))
    val added = rd(stA, (after -- before).toSeq)
    val removed = rd(stB, (before -- after).toSeq)
    // DV delta on carried files: a position masked at toV but not at
    // fromV is a pure delete; one masked at fromV but not toV (a
    // RESTORE to a pre-delete version) resurrects — a pure insert.
    // Only the affected carried files and their delta DV rows are ever
    // read (delta-proportional).
    val carried = (before & after).toSeq
    def dvDelta(stFrom: State, stTo: State): DataFrame = {
      val pairs = carried.flatMap { f =>
        val b = stFrom.dvs.getOrElse(f, Vector.empty).toSet
        stTo.dvs.getOrElse(f, Vector.empty).filterNot(b).map(d => (f, d))
      }
      if (pairs.isEmpty) empty0
      else {
        val dirs = pairs.map(_._2).distinct
        val files0 = pairs.map(_._1).distinct
        val dv = spark.read.parquet(
            dirs.map(d => new File(table, d).getAbsolutePath): _*)
          .select(expr("regexp_extract(path, '[^/]+$', 0)").as("__base"),
            col("pos").as("__pos"))
          .filter(col("__base").isin(files0.map(baseName): _*))
        // mapped tables: semi-join against the dv rows on the RAW scan
        // (where _metadata is still in scope), then project each write
        // epoch to toV's field list by id
        def scanPos(ps: Seq[String]): DataFrame =
          if (!stA.mapped) scanFiles(spark, table, ps, Some(schema))
            .withColumn("__base", srcBaseCol)
            .withColumn("__pos", col("_metadata.row_index"))
          else epochGroups(stA, stA, ps).map { case (fields, g) =>
            projectMapped(
              scanFiles(spark, table, g)
                .withColumn("__base", srcBaseCol)
                .withColumn("__pos", col("_metadata.row_index")),
              fields, stA.curFields, keep = Seq("__base", "__pos"))
          }.reduce(_ unionByName _)
        scanPos(files0)
          .join(dv, Seq("__base", "__pos"), "left_semi")
          .drop("__base", "__pos")
      }
    }
    val dvDeleted = dvDelta(stB, stA)
    val dvResurrected = dvDelta(stA, stB)
    added.exceptAll(removed).unionByName(dvResurrected)
      .withColumn("_change", lit("insert"))
      .unionByName(
        removed.exceptAll(added).unionByName(dvDeleted)
          .withColumn("_change", lit("delete")))
  }

  private def opPath(l: String): (String, String) = {
    val op = l.split("\"op\":\"")(1).split("\"")(0)
    (op, jstr(l, l.indexOf("\"path\":\"") + 7)._1)
  }

  /** STREAMING SOURCE over the table's commit log — the read half of the
    * exactly-once pipeline ([[appendIdempotent]] is the write half). The
    * `_txlog` directory is itself an append-only file stream, so the
    * source is Spark's own checkpointed file stream over the COMMIT
    * FILES (pure metadata, a handful of lines per commit): each
    * discovered commit's `add` actions name the parquet files that
    * entered the table at that version, and ONLY those files are read
    * as the micro-batch payload — a trickle of commits yields a
    * trickle-sized scan regardless of table size, and offset tracking /
    * recovery ride Spark's streaming checkpoint for free.
    *
    * Semantics (the published streaming-source contract for log-backed
    * tables): APPEND commits stream; a commit that REMOVES files (COW
    * delete/merge/optimize) fails the stream unless `ignoreChanges`,
    * which forwards the commit's rewritten adds instead — carried-over
    * rows re-deliver, so downstream must key-dedup (exactly the
    * documented `ignoreChanges` caveat). The payload schema is fixed at
    * start time; restart the stream to surface columns added by
    * [[appendEvolve]] mid-stream (pre-restart payloads project the old
    * columns from evolved files). Schema-MAPPED tables stream fully:
    * every commit's files resolve by field id against the start-time
    * field list (per-epoch mask-then-project), so files written before
    * a rename/drop/widen deliver correctly under the subscribed names;
    * only a table's FIRST mutation arriving mid-stream on an
    * unmapped-start subscription throws (restart, then mapped-start
    * resolution takes over).
    *
    * `process(df, v)` runs once per commit, in version order within a
    * batch; Spark may re-deliver a batch after failure, so `process`
    * must be idempotent — e.g. [[appendIdempotent]] keyed on `v`, as
    * [[mirror]] does.
    */
  def streamChanges(spark: SparkSession, table: String, checkpointDir: String,
                    ignoreChanges: Boolean = false,
                    commitsPerTrigger: Int = 8,
                    trigger: org.apache.spark.sql.streaming.Trigger =
                      org.apache.spark.sql.streaming.Trigger.AvailableNow())
                   (process: (DataFrame, Int) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = read(spark, table).schema
    val startSt = stateAt(table, None)
    streamLog(spark, table, checkpointDir, commitsPerTrigger, trigger) {
      (adds, removes, dvs, v) =>
        if ((removes.nonEmpty || dvs.nonEmpty) && !ignoreChanges)
          throw new IllegalStateException(
            s"commit $v of $table removes rows (COW rewrite/optimize " +
              "or MOR deletion vector); the streaming source is " +
              "append-only — pass ignoreChanges=true to forward only " +
              "the adds (re-delivers carried-over rows, skips " +
              "deletes), or use streamCdc for true insert/delete " +
              "change events")
        if (adds.nonEmpty) {
          // dv lines on files added in the SAME commit are birth masks
          // (a restore re-adds a file together with its target
          // version's masks): those rows are not live at this version
          // and must never be delivered as payload
          val addSet = adds.toSet
          val birthDvs = dvs.filter(x => addSet.contains(x._1))
          process(scanCommitFiles(spark, table, replay(table, v), adds,
            birthDvs, semi = false, schema, startSt), v)
        }
    }
  }

  /** CDC STREAMING: subscribe to the table's commit log and receive
    * each commit as INSERT/DELETE change rows (`_change` column), the
    * streaming twin of the batch [[changes]] read. Where
    * [[streamChanges]] is append-only, this forwards EVERY commit
    * faithfully: a COW delete/merge surfaces as the per-commit file
    * diff under EXCEPT ALL multiset cancellation — rows merely carried
    * through a rewrite cancel out, an update is delete(old)+insert(new).
    * Rows already dv-masked BEFORE a commit never resurface: the
    * removed side reads under the prior version's masks, and a RESTORE
    * commit (re-adds + re-emitted dv lines) nets out to exactly the
    * resurrected / newly-masked rows.
    * Removed files must still be on disk (run [[vacuum]] with a horizon
    * above the subscriber's lag). Payload schema is fixed at start
    * time, as in [[streamChanges]]. */
  def streamCdc(spark: SparkSession, table: String, checkpointDir: String,
                commitsPerTrigger: Int = 8,
                trigger: org.apache.spark.sql.streaming.Trigger =
                  org.apache.spark.sql.streaming.Trigger.AvailableNow())
               (process: (DataFrame, Int) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = read(spark, table).schema
    val startSt = stateAt(table, None)
    def empty0 =
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    streamLog(spark, table, checkpointDir, commitsPerTrigger, trigger) {
      (adds, removes, dvs, v) =>
        if (adds.nonEmpty || removes.nonEmpty || dvs.nonEmpty) {
          // Prior-version state (memoized log replay, metadata only):
          // rows already dv-masked BEFORE this commit were deleted in
          // an earlier commit and must not resurface here — neither as
          // spurious deletes when a COW rewrite removes their file,
          // nor as spurious inserts when a restore re-adds it.
          val stV = replay(table, v)
          val stP = if (v == 0) new State else replay(table, v - 1)
          val addSet = adds.toSet
          // dv lines on files (re-)added in the SAME commit are birth
          // masks (a restore re-emits the target version's dv lines
          // with its re-adds) — they shape the insert side, they are
          // not delete events
          val (birthDvs, freshDvs) = dvs.partition(x => addSet.contains(x._1))
          def priorDvsFor(ps: Seq[String]): Seq[(String, String)] =
            ps.flatMap(p =>
              stP.dvs.getOrElse(p, Vector.empty).map(d => (p, d)))
          // all sides read via scanCommitFiles: the stream's fixed
          // start-time schema, per-epoch field-id projection on mapped
          // tables (removed/re-added files resolve epochs under the
          // PRIOR version's state — they may be gone from v's)
          def rd(st0: State, ps: Seq[String],
                 pairs: Seq[(String, String)], semi: Boolean): DataFrame =
            if (ps.isEmpty) empty0
            else scanCommitFiles(spark, table, st0, ps, pairs, semi,
              schema, startSt)
          // a re-add (restore) replaces the file's prior masked state:
          // old state joins the removed side, new state the added side,
          // and EXCEPT ALL cancellation yields exactly the net change
          // (resurrected rows insert, newly-masked rows delete)
          val reAdded = adds.filter(stP.live.contains)
          val added = rd(stV, adds, birthDvs, semi = false)
          val removed =
            rd(stP, removes, priorDvsFor(removes), semi = false)
              .unionByName(
                rd(stP, reAdded, priorDvsFor(reAdded), semi = false))
          // a MOR delete commit: its dv rows name exactly the deleted
          // (file, pos) pairs — read those rows as the delete events
          // (fresh by the MOR compose contract: discovery reads
          // through existing masks, so they never overlap prior dvs)
          val dvDeleted =
            rd(stV, freshDvs.map(_._1).distinct, freshDvs, semi = true)
          val cdc = added.exceptAll(removed)
            .withColumn("_change", lit("insert"))
            .unionByName(removed.exceptAll(added).unionByName(dvDeleted)
              .withColumn("_change", lit("delete")))
          process(cdc, v)
        }
    }
  }

  /** Shared commit-log subscription core: a checkpointed Spark file
    * stream over the `_txlog/NNNNNNNN.json` commit files (metadata
    * only); `perCommit(addPaths, removePaths, version)` fires once per
    * discovered commit, in version order within a batch. */
  private def streamLog(spark: SparkSession, table: String,
                        checkpointDir: String, commitsPerTrigger: Int,
                        trigger: org.apache.spark.sql.streaming.Trigger)
                       (perCommit: (Seq[String], Seq[String], Seq[(String, String)], Int) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(version(table) >= 0, s"stream source: no commits yet in $table")
    // Payload schema is fixed at stream start. A MAPPED start state
    // handles schema-mutation commits fine (files resolve by field id
    // against the start-time field list, so even a mid-stream rename
    // keeps delivering under the names the subscriber signed up for);
    // an UNMAPPED start cannot survive its table's FIRST mutation —
    // the fixed forced-schema scan would silently null-fill renamed
    // columns — so that case throws from the commit handler below
    // (restart the subscription; it then starts mapped).
    val startMapped = stateAt(table, None).mapped
    spark.readStream
      .option("maxFilesPerTrigger", commitsPerTrigger)
      .text(new File(logDir(table), "*.json").getAbsolutePath) // commits only, never checkpoints
      .select(col("value"), col("_metadata.file_path").as("_src"))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val lines = batch.collect() // commit METADATA lines, never data
        lines.groupBy(r => new File(r.getString(1)).getName
            .stripSuffix(".json").toInt)
          .toSeq.sortBy(_._1)
          .foreach { case (v, ls) =>
            val lines0 = ls.map(_.getString(0)).filter(_.trim.nonEmpty)
            val ops = lines0.map(opPath)
            if (!startMapped && ops.exists(_._1 == "schema"))
              throw new IllegalStateException(
                s"commit $v of $table mutates the schema (rename/drop/" +
                  "widen/add) but this stream started on the un-mapped " +
                  "table, so its fixed payload schema cannot resolve " +
                  "post-mutation files — restart the subscription (a " +
                  "restart starts MAPPED and then resolves every epoch " +
                  "by field id)")
            val dvs = lines0.filter(_.contains("\"op\":\"dv\"")).map { l =>
              (jstr(l, l.indexOf("\"path\":\"") + 7)._1,
                jstr(l, l.indexOf("\"dv\":\"") + 5)._1)
            }
            perCommit(ops.collect { case ("add", p) => p }.toIndexedSeq,
              ops.collect { case ("remove", p) => p }.toIndexedSeq,
              dvs.toIndexedSeq, v)
          }
        ()
      }
      .start()
  }

  /** Streaming REPLICATION: subscribe to `src`'s commit log and append
    * each commit into `dst` exactly-once (txn = source version, so
    * batch re-delivery AND a from-scratch re-subscription are both
    * no-ops). Log-shipping between ACID tables in one call. */
  def mirror(spark: SparkSession, src: String, dst: String,
             checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    streamChanges(spark, src, checkpointDir) { (df, v) =>
      appendIdempotent(spark, df, dst, txn = s"src-v$v")
      ()
    }

  /** Register a CHECK constraint: from this commit on, every write that
    * introduces rows ([[append]], [[appendEvolve]], [[appendIdempotent]],
    * [[merge]]) validates `sqlPred` against the incoming frame and
    * REJECTS the whole write if any row evaluates it FALSE — data
    * quality enforced at the table boundary, not discovered downstream.
    * SQL-standard semantics: NULL (unknown) passes, only FALSE
    * violates. The existing snapshot is validated before the
    * constraint commits (a constraint the current data already breaks
    * is refused). Constraints live in the log and ride checkpoints
    * like txn ids. */
  def addCheck(spark: SparkSession, table: String, name: String,
               sqlPred: String): Int = {
    require(version(table) >= 0, s"addCheck: no table at $table yet")
    val bad = read(spark, table)
      .filter(!coalesce(expr(sqlPred), lit(true))).limit(1).count()
    require(bad == 0L,
      s"cannot add CHECK '$name' ($sqlPred): existing rows violate it")
    retryCommit(table)(commitLines(table, _, Seq(
      s"""{"op":"check","path":"${jesc(name)}","pred":"${jesc(sqlPred)}"}""")))
  }

  /** Registered CHECK constraints (name -> SQL predicate). */
  def checks(table: String): Map[String, String] =
    if (version(table) < 0) Map.empty
    else replay(table, version(table)).checks.toMap

  /** Validate the incoming frame against every registered CHECK; one
    * short-circuiting probe job per constraint over the batch (the
    * write-side scan the production formats fold into the commit). */
  private def enforceChecks(spark: SparkSession, df: DataFrame,
                            table: String): Unit =
    checks(table).foreach { case (name, pred) =>
      val bad = df.filter(!coalesce(expr(pred), lit(true))).limit(1).count()
      require(bad == 0L,
        s"CHECK constraint '$name' ($pred) violated; write rejected")
    }

  /** ACID tables enforce their schema on write: an append whose shape
    * drifts from the table's (names + types; nullability is advisory)
    * fails LOUDLY at commit time instead of poisoning every future read
    * — the failure mode schemaless parquet directories are notorious
    * for. Evolution is an explicit, separate entry point
    * ([[appendEvolve]]), never an accident. */
  private def enforceSchema(spark: SparkSession, df: DataFrame,
                            table: String,
                            asOf: Option[Int] = None): Unit = {
    if (asOf.getOrElse(version(table)) < 0) return
    val existing = read(spark, table, asOf).schema
    def shape(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
    require(shape(existing) == shape(df.schema),
      s"schema drift rejected: table has ${existing.simpleString}, " +
        s"append has ${df.schema.simpleString}")
  }

  /** Delete data files no RETAINED version references (failed writers'
    * orphans, and — when `retainVersions` is given — files only
    * referenced below the retention horizon; time travel below it is
    * gone, the log entries stay as an audit record). Returns the
    * deleted relative paths.
    *
    * `minAgeMillis` is the concurrent-writer guard the production
    * formats use: a writer that has materialized its data files but not
    * yet committed has files on disk the log does not reference yet —
    * indistinguishable from orphans. Files younger than the horizon are
    * therefore never deleted; run vacuum with a horizon comfortably
    * above the longest write+commit latency (default 0 keeps the old
    * behavior and is safe only with no in-flight writers).
    */
  def vacuum(table: String, retainVersions: Int = Int.MaxValue,
             minAgeMillis: Long = 0L): Seq[String] = {
    val latest = version(table)
    val floor = math.max(0, latest - math.max(0, retainVersions - 1))
    val referenced = (floor to latest).flatMap(v => files(table, Some(v))).toSet
    val dvDirs = (floor to latest)
      .flatMap(v => replay(table, v).dvs.valuesIterator.flatten.toSeq).toSet
    // bloom sidecars referenced by any RETAINED version's stats stay;
    // ones only below the horizon are orphans like their data files
    val sidecars = (floor to latest).flatMap(v =>
      filesWithStats(table, Some(v)).flatMap(_._2.valuesIterator)
        .collect { case cs if cs.typ == "BS" => cs.lo }).toSet
    val tableDir = new File(table).toPath.toAbsolutePath
    val cutoff = System.currentTimeMillis() - minAgeMillis
    val onDisk = {
      val out = scala.collection.mutable.ListBuffer[String]()
      Files.walk(tableDir).forEach { p =>
        val rel = tableDir.relativize(p).toString
        if ((rel.endsWith(".parquet") || rel.endsWith(".bin")) &&
          !rel.startsWith("_txlog") &&
          p.toFile.lastModified() <= cutoff) out += rel
      }
      out.toList
    }
    val doomed = onDisk.filterNot(p =>
      referenced(p) || sidecars(p) ||
        dvDirs.exists(d => p.startsWith(d + "/")))
    doomed.foreach(p => Files.deleteIfExists(tableDir.resolve(p)))
    doomed
  }

  private def newFiles(table: String, sub: String): Seq[String] = {
    val d = new File(table, sub).listFiles()
    require(d != null, s"no files written under $sub")
    d.filter(f => f.getName.endsWith(".parquet") && f.length() > 0)
      .map(f => s"$sub/${f.getName}").sorted.toSeq
  }
}
