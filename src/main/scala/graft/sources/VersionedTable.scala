package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Snapshot-versioned parquet table — the table-format seam (SURVEY
  * §1.4: Delta jars are environment-absent) made concrete with the
  * same core design as Delta/Iceberg: IMMUTABLE data files plus a
  * manifest per version naming exactly the files that version reads,
  * committed by an atomic rename. Readers at version N never see a
  * writer's files until the manifest lands, a crashed writer leaves
  * only orphaned staging files (cleaned by [[vacuum]]), and history
  * stays readable until vacuumed — time travel, audit reads, and
  * reproducible training runs ("train on corpus @ v7") on plain
  * parquet.
  *
  * Commit protocol (optimistic concurrency):
  *   1. write data files under files/ with a version-scoped prefix
  *      (staged via a tmp dir, renamed in — never visible to any
  *      manifest until step 3);
  *   2. build the manifest: carried files (append keeps the parent
  *      version's list, overwrite starts empty) + the new files;
  *   3. publish manifest tmp -> _manifests/vN via a
  *      fail-if-exists CAS (see [[casPublish]]), so two racing
  *      writers can't both claim vN — the loser re-reads the new
  *      head and retries against it (bounded CAS loop).
  *
  * Scale shape: manifests are file-list-sized (metadata); a read
  * opens only its version's files; appends never rewrite old data;
  * nothing here scans the table to commit. At cluster scale the
  * rename-as-CAS needs an atomic store (HDFS, or a lock/catalog
  * service over S3) — the same requirement Delta documents.
  */
object VersionedTable {

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(dir: String) = new Path(s"$dir/_manifests")

  /** Atomically publish `tmp` as `dest` iff `dest` does not exist,
    * with full content visible the instant it appears. On HDFS a
    * plain rename already has exactly these semantics (fails on an
    * existing destination). On the LOCAL filesystem Hadoop's rename
    * bottoms out in POSIX rename(2), which silently REPLACES the
    * destination — so there the CAS is a hard link instead: link(2)
    * fails with EEXIST atomically, and the link carries the tmp
    * file's complete content. Either way the loser of a race gets
    * `false`, never a torn manifest.
    */
  private def casPublish(f: FileSystem, tmp: Path, dest: Path): Boolean =
    if (f.getUri.getScheme == "file") {
      import java.nio.file.{Files, Paths, FileAlreadyExistsException}
      try {
        Files.createLink(Paths.get(dest.toUri.getPath), Paths.get(tmp.toUri.getPath))
        f.delete(tmp, false)
        true
      } catch { case _: FileAlreadyExistsException => false }
    } else f.rename(tmp, dest)

  /** Renames a data file for [[commit]], failing when the file system
    * reports no move (HDFS returns false for a missing source, as when a
    * concurrent [[vacuum]] removed a stage dir): a manifest must never
    * name a file that is not there.
    */
  private def move(f: FileSystem, src: Path, dst: Path): Unit =
    if (!f.rename(src, dst))
      throw new java.io.IOException(s"commit could not move $src to $dst")

  /** Latest committed version, or 0 if the table is empty/absent. */
  def latestVersion(spark: SparkSession, dir: String): Int = {
    val f = fs(spark, dir)
    val md = manifestDir(dir)
    if (!f.exists(md)) 0
    else f.listStatus(md).map(_.getPath.getName)
      .filter(_.matches("v\\d+")).map(_.drop(1).toInt)
      .foldLeft(0)(math.max)
  }

  private def manifestLines(f: FileSystem, dir: String, v: Int): Seq[String] = {
    val in = f.open(new Path(s"$dir/_manifests/v$v"))
    try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(_.nonEmpty).toList
    } finally in.close()
  }

  // File list only — '#'-prefixed lines are metadata headers (the
  // schema record below); legacy manifests have none.
  private def readManifest(f: FileSystem, dir: String, v: Int): Seq[String] =
    manifestLines(f, dir, v).filterNot(_.startsWith("#"))

  private val SchemaHeader = "#schema "

  /** The schema committed WITH version v (rides the manifest, so it is
    * visible atomically with the file list). None for manifests from
    * before the schema record existed — enforcement skips, reads fall
    * back to parquet's own resolution.
    */
  def readSchema(
      spark: SparkSession, dir: String, version: Int = -1): Option[org.apache.spark.sql.types.StructType] = {
    val f = fs(spark, dir)
    val v = if (version >= 0) version else latestVersion(spark, dir)
    if (v < 1 || !f.exists(new Path(s"$dir/_manifests/v$v"))) None
    else manifestLines(f, dir, v).find(_.startsWith(SchemaHeader)).map(l =>
      org.apache.spark.sql.types.DataType.fromJson(l.drop(SchemaHeader.length))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** Name+type comparison (nullability excluded — appends routinely
    * carry tighter nullability than the table).
    */
  private def sameShape(
      a: org.apache.spark.sql.types.StructType,
      b: org.apache.spark.sql.types.StructType): Boolean =
    a.fields.map(f => (f.name, f.dataType.catalogString)).toSeq ==
      b.fields.map(f => (f.name, f.dataType.catalogString)).toSeq

  private val BatchHeader = "#batch "

  /** The last batch each writer committed, as recorded by version v. */
  private def readBatches(f: FileSystem, dir: String, v: Int): Map[String, Long] =
    if (v < 1) Map.empty
    else manifestLines(f, dir, v).filter(_.startsWith(BatchHeader)).map { l =>
      val Array(id, writer) = l.drop(BatchHeader.length).split(" ", 2)
      writer -> id.toLong
    }.toMap

  /** Commit `df` as the next version. `overwrite = false` carries the
    * parent version's file list forward (logical append); `true`
    * starts from an empty list (logical replace) — parent FILES stay
    * on disk either way, which is what keeps old versions readable.
    * Returns the committed version number.
    *
    * SCHEMA CONTRACT (S7 closed r13 — Delta's semantics on the plain-
    * parquet substitute): every commit records its schema in the
    * manifest (atomic with the file list), and against the parent's
    * recorded schema,
    *   - an APPEND with a different shape fails unless
    *     `mergeSchema = true`, which EVOLVES the table schema — shared
    *     names must keep their types, new fields append, and reads at
    *     the evolved version fill pre-evolution files' missing columns
    *     with null (explicit-schema parquet read, name-resolved);
    *   - an OVERWRITE with a different shape fails unless
    *     `overwriteSchema = true` (Delta's flag) — time travel still
    *     returns each version under ITS OWN recorded schema.
    * Pre-r13 manifests carry no schema record: enforcement skips and
    * reads fall back to parquet's own resolution.
    *
    * BATCH RECORD (Delta's `txn` action): `batch = Some((writer, id))`
    * records the writer's batch id in the manifest, atomically with the
    * file list, and every later commit — overwrites and compactions
    * included — carries each writer's last id forward. Batch ids of one
    * writer increase (a streaming query's do), so a commit whose id is
    * at or below the recorded one is a replay: it writes no file and
    * returns the head version. The check runs against every parent the
    * CAS loop tries, so it holds before staging and again after a lost
    * race — a crash anywhere before the CAS leaves no record, and the
    * replay lands the batch exactly once.
    *
    * PARENT CHECK: `expectedParent = Some(v)` commits only on top of
    * version v. A compaction that rewrites rows it read at v passes v:
    * if any commit landed after v, this one throws before it stages a
    * file or writes a manifest, instead of retrying the overwrite on
    * the new head and dropping that commit's rows.
    */
  def commit(
      spark: SparkSession,
      dir: String,
      df: DataFrame,
      overwrite: Boolean = false,
      overwriteSchema: Boolean = false,
      mergeSchema: Boolean = false,
      maxRetries: Int = 10,
      batch: Option[(String, Long)] = None,
      expectedParent: Option[Int] = None): Int = {
    val f = fs(spark, dir)
    f.mkdirs(manifestDir(dir))
    f.mkdirs(new Path(s"$dir/files"))

    // Stage data once, after the first parent passed the batch and
    // schema checks — the CAS loop below re-points the SAME files at a
    // new version number on conflict, it never rewrites data.
    val stageId = java.util.UUID.randomUUID().toString.take(8)
    val stage = new Path(s"$dir/_stage_$stageId")
    lazy val staged = {
      df.write.mode("overwrite").parquet(stage.toString)
      f.listStatus(stage)
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    }

    var attempt = 0
    while (true) {
      attempt += 1
      val parent = latestVersion(spark, dir)
      if (expectedParent.exists(_ != parent)) {
        f.delete(stage, true)
        throw new java.util.ConcurrentModificationException(
          s"commit to $dir expected parent v${expectedParent.get}, but the head is v$parent")
      }
      val v = parent + 1
      val batches = readBatches(f, dir, parent)
      if (batch.exists { case (w, id) => batches.get(w).exists(_ >= id) }) {
        f.delete(stage, true)
        return parent
      }
      // Schema enforcement runs INSIDE the CAS loop: a lost race means
      // a new parent, whose schema the retry must re-check.
      val parentSchema =
        if (parent == 0) None else readSchema(spark, dir, parent)
      val committedSchema = parentSchema match {
        case Some(ps) if !sameShape(ps, df.schema) =>
          if (overwrite) {
            require(overwriteSchema,
              s"commit(overwrite) changes the table schema of $dir " +
                s"(${ps.simpleString} -> ${df.schema.simpleString}); pass " +
                "overwriteSchema = true to replace it")
            df.schema
          } else {
            require(mergeSchema,
              s"append schema ${df.schema.simpleString} does not match table " +
                s"schema ${ps.simpleString} of $dir; pass mergeSchema = true " +
                "to evolve it")
            val byName = df.schema.fields.map(fl => fl.name -> fl).toMap
            ps.fields.foreach { pf =>
              byName.get(pf.name).foreach { nf =>
                require(nf.dataType.catalogString == pf.dataType.catalogString,
                  s"mergeSchema cannot change the type of '${pf.name}' " +
                    s"(${pf.dataType.catalogString} -> ${nf.dataType.catalogString})")
              }
            }
            val known = ps.fieldNames.toSet
            org.apache.spark.sql.types.StructType(
              ps.fields ++ df.schema.fields.filterNot(fl => known(fl.name)))
          }
        case _ => df.schema
      }
      // Version-scoped deterministic names: a loser's files for a
      // stolen version number can't collide with the winner's because
      // the stageId participates.
      val newFiles = staged.zipWithIndex.map { case (p, i) =>
        s"files/v$v-$stageId-$i.parquet"
      }
      staged.zip(newFiles).foreach { case (src, rel) =>
        move(f, src, new Path(s"$dir/$rel"))
      }
      val carried =
        if (overwrite || parent == 0) Nil
        else readManifest(f, dir, parent)
      val headers = (SchemaHeader + committedSchema.json) +:
        (batches ++ batch).toSeq.sorted.map { case (w, id) => s"$BatchHeader$id $w" }
      val mTmp = new Path(s"$dir/_manifests/.tmp_v$v-$stageId")
      val out = f.create(mTmp, true)
      try out.write(
        (headers ++ carried ++ newFiles).mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
      if (casPublish(f, mTmp, new Path(s"$dir/_manifests/v$v"))) {
        f.delete(stage, true)
        return v
      }
      // Lost the race: un-stage our files back (names embed stageId so
      // no winner references them), recompute against the new head.
      f.delete(mTmp, true)
      newFiles.zip(staged).foreach { case (rel, back) =>
        move(f, new Path(s"$dir/$rel"), back)
      }
      require(attempt < maxRetries, s"commit lost $maxRetries CAS races on $dir")
    }
    -1 // unreachable
  }

  /** Read the table at `version` (default: latest). An empty table
    * (version 0) has no schema to offer — callers commit first.
    */
  def read(spark: SparkSession, dir: String, version: Int = -1): DataFrame = {
    val f = fs(spark, dir)
    val v = if (version >= 0) version else latestVersion(spark, dir)
    require(v > 0, s"no committed version in $dir")
    require(f.exists(new Path(s"$dir/_manifests/v$v")), s"version $v not found in $dir")
    val files = readManifest(f, dir, v).map(rel => s"$dir/$rel")
    require(files.nonEmpty, s"version $v of $dir lists no files")
    // The version's RECORDED schema drives the read (name-resolved):
    // files from before a mergeSchema evolution lack the new columns
    // and read as null there — Delta's post-evolution semantics,
    // without a mergeSchema footer scan at read time. Legacy manifests
    // (no record) fall back to parquet's own resolution.
    readSchema(spark, dir, v) match {
      case Some(s) => spark.read.schema(s).parquet(files: _*)
      case None => spark.read.parquet(files: _*)
    }
  }

  /** One row per version: (version, n_files, n_new_files) — `n_new`
    * counts files first referenced by that version, so an append's
    * history shows deltas and an overwrite shows a reset. Driver-side
    * (manifests are metadata-sized).
    */
  def history(spark: SparkSession, dir: String): Seq[(Int, Int, Int)] = {
    val f = fs(spark, dir)
    (1 to latestVersion(spark, dir)).foldLeft((Seq.empty[(Int, Int, Int)], Set.empty[String])) {
      case ((acc, seen), v) =>
        val files = readManifest(f, dir, v)
        val fresh = files.filterNot(seen)
        (acc :+ ((v, files.size, fresh.size)), seen ++ fresh)
    }._1
  }

  /** Drop versions older than `keepFrom` and delete every data file
    * no surviving manifest references, plus orphaned staging dirs
    * (crashed writers). After vacuum, [[read]] at a dropped version
    * fails — the Delta VACUUM trade, stated rather than hidden.
    */
  def vacuum(spark: SparkSession, dir: String, keepFrom: Int): Unit = {
    val f = fs(spark, dir)
    val latest = latestVersion(spark, dir)
    require(keepFrom >= 1 && keepFrom <= latest, s"keepFrom $keepFrom out of range 1..$latest")
    val referenced = (keepFrom to latest).flatMap(v => readManifest(f, dir, v)).toSet
    (1 until keepFrom).foreach(v => f.delete(new Path(s"$dir/_manifests/v$v"), false))
    f.listStatus(new Path(s"$dir/files")).map(_.getPath)
      .filterNot(p => referenced.contains(s"files/${p.getName}"))
      .foreach(p => f.delete(p, false))
    f.listStatus(new Path(dir)).map(_.getPath)
      .filter(_.getName.startsWith("_stage_"))
      .foreach(p => f.delete(p, true))
  }
}
