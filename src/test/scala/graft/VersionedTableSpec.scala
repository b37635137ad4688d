package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** The local file system under the `vtlost` scheme, whose rename of a
  * staged data file into `files/` finds the source gone (as after a
  * concurrent vacuum) and reports it the way HDFS does: false.
  */
class LostStageFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("vtlost:///")
  override def getScheme: String = "vtlost"
  override def rename(
      src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
    if (src.getParent.getName.startsWith("_stage_") && dst.getParent.getName == "files") {
      delete(src, false)
      false
    } else super.rename(src, dst)
}

class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = s"target/tmp/vtable_$tag"
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    d
  }

  test("append commits accumulate; every version stays readable (time travel)") {
    val dir = freshDir("append")
    assert(VersionedTable.latestVersion(spark, dir) == 0)
    val v1 = VersionedTable.commit(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("id", "x"))
    val v2 = VersionedTable.commit(spark, dir, Seq((3L, "c")).toDF("id", "x"))
    assert((v1, v2) == ((1, 2)))
    assert(VersionedTable.read(spark, dir, 1).count() == 2)
    assert(VersionedTable.read(spark, dir, 2).count() == 3)
    assert(VersionedTable.read(spark, dir).select(sum("id")).as[Long].head() == 6L)
  }

  test("overwrite resets contents logically; parent versions still read their files") {
    val dir = freshDir("ow")
    VersionedTable.commit(spark, dir, Seq((1L, "a")).toDF("id", "x"))
    VersionedTable.commit(spark, dir, Seq((2L, "b")).toDF("id", "x"))
    val v3 = VersionedTable.commit(spark, dir, Seq((9L, "z")).toDF("id", "x"), overwrite = true)
    assert(v3 == 3)
    assert(VersionedTable.read(spark, dir, 2).count() == 2)
    assert(VersionedTable.read(spark, dir, 3).select("id").as[Long].collect().toSeq == Seq(9L))
    val hist = VersionedTable.history(spark, dir)
    assert(hist.map(h => (h._1, h._2)) == Seq((1, 1), (2, 2), (3, 1)))
  }

  test("a crashed writer (staged files, no manifest) is invisible; vacuum cleans it") {
    val dir = freshDir("crash")
    VersionedTable.commit(spark, dir, Seq((1L, "a")).toDF("id", "x"))
    // Simulate a writer that died after staging data, before manifest.
    Seq((99L, "dead")).toDF("id", "x")
      .write.parquet(s"$dir/_stage_deadbeef")
    assert(VersionedTable.latestVersion(spark, dir) == 1)
    assert(VersionedTable.read(spark, dir).count() == 1)
    VersionedTable.vacuum(spark, dir, keepFrom = 1)
    assert(!Files.exists(Paths.get(s"$dir/_stage_deadbeef")))
    assert(VersionedTable.read(spark, dir).count() == 1)
  }

  test("vacuum drops pre-keepFrom versions and their unreferenced files only") {
    val dir = freshDir("vacuum")
    VersionedTable.commit(spark, dir, Seq((1L, "a")).toDF("id", "x"))
    VersionedTable.commit(spark, dir, Seq((2L, "b")).toDF("id", "x"))            // v2 carries v1
    VersionedTable.commit(spark, dir, Seq((9L, "z")).toDF("id", "x"), overwrite = true) // v3 orphans v1+v2 files
    VersionedTable.commit(spark, dir, Seq((10L, "w")).toDF("id", "x"))           // v4 carries v3
    VersionedTable.vacuum(spark, dir, keepFrom = 3)
    intercept[IllegalArgumentException] { VersionedTable.read(spark, dir, 2) }
    assert(VersionedTable.read(spark, dir, 3).count() == 1)
    assert(VersionedTable.read(spark, dir, 4).count() == 2)
    // v1/v2's data files (only ever referenced below keepFrom) are gone.
    val files = Files.list(Paths.get(s"$dir/files"))
    try {
      import scala.jdk.CollectionConverters._
      val names = files.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).filterNot(_.startsWith(".")).toSet
      assert(names.forall(n => n.startsWith("v3-") || n.startsWith("v4-")), names.toString)
    } finally files.close()
  }

  test("concurrent commits serialize through the CAS: unique versions, no lost rows") {
    val dir = freshDir("race")
    VersionedTable.commit(spark, dir, Seq((0L, "seed")).toDF("id", "x"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val racers = (1 to 4).map { i =>
      Future(VersionedTable.commit(spark, dir, Seq((i.toLong, s"r$i")).toDF("id", "x")))
    }
    val versions = Await.result(Future.sequence(racers), 120.seconds)
    assert(versions.sorted == Seq(2, 3, 4, 5), versions.toString)
    // Head version sees the seed plus all four racers, exactly once each.
    val ids = VersionedTable.read(spark, dir, 5).select("id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("schema contract: mismatched append fails; mergeSchema evolves with nulls") {
    val dir = freshDir("schema_merge")
    VersionedTable.commit(spark, dir, Seq((1L, "a")).toDF("id", "x"))
    // shape drift without the flag: loud, names the flag
    val err = intercept[IllegalArgumentException] {
      VersionedTable.commit(spark, dir, Seq((2L, "b", 7)).toDF("id", "x", "n"))
    }
    assert(err.getMessage.contains("mergeSchema"))
    // evolve: new column appends; v1's rows read as null there
    VersionedTable.commit(spark, dir,
      Seq((2L, "b", 7)).toDF("id", "x", "n"), mergeSchema = true)
    val latest = VersionedTable.read(spark, dir).orderBy("id")
    assert(latest.columns.toSeq == Seq("id", "x", "n"))
    assert(latest.collect().map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) None else Some(r.getInt(2)))).toSeq ==
      Seq((1L, "a", None), (2L, "b", Some(7))))
    // time travel: v1 reads under ITS recorded schema
    assert(VersionedTable.read(spark, dir, 1).columns.toSeq == Seq("id", "x"))
    // a shared name cannot change type, even under mergeSchema
    val tErr = intercept[IllegalArgumentException] {
      VersionedTable.commit(spark, dir,
        Seq((3L, 5, 1)).toDF("id", "x", "n"), mergeSchema = true)
    }
    assert(tErr.getMessage.contains("cannot change the type"))
  }

  test("schema contract: overwrite with a new schema needs overwriteSchema") {
    val dir = freshDir("schema_over")
    VersionedTable.commit(spark, dir, Seq((1L, "a")).toDF("id", "x"))
    val err = intercept[IllegalArgumentException] {
      VersionedTable.commit(spark, dir,
        Seq((9L, 1.5)).toDF("id", "score"), overwrite = true)
    }
    assert(err.getMessage.contains("overwriteSchema"))
    VersionedTable.commit(spark, dir,
      Seq((9L, 1.5)).toDF("id", "score"), overwrite = true, overwriteSchema = true)
    assert(VersionedTable.read(spark, dir).columns.toSeq == Seq("id", "score"))
    assert(VersionedTable.read(spark, dir, 1).columns.toSeq == Seq("id", "x"))
    // identical-shape overwrite still needs no flag
    VersionedTable.commit(spark, dir,
      Seq((10L, 2.5)).toDF("id", "score"), overwrite = true)
    assert(VersionedTable.latestVersion(spark, dir) == 3)
  }

  test("legacy manifests without a schema record still read") {
    val dir = freshDir("schema_legacy")
    VersionedTable.commit(spark, dir, Seq((1L, "a")).toDF("id", "x"))
    // strip the header line, simulating a pre-record manifest
    val m = Paths.get(s"$dir/_manifests/v1")
    val lines = scala.jdk.CollectionConverters.ListHasAsScala(
      Files.readAllLines(m)).asScala.filterNot(_.startsWith("#"))
    Files.write(m, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    assert(VersionedTable.readSchema(spark, dir, 1).isEmpty)
    assert(VersionedTable.read(spark, dir).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    // and the NEXT commit (no parent record) proceeds without enforcement
    VersionedTable.commit(spark, dir, Seq((2L, "b", 7)).toDF("id", "x", "n"))
    assert(VersionedTable.latestVersion(spark, dir) == 2)
  }

  test("reading an uncommitted or empty version fails loudly") {
    val dir = freshDir("empty")
    intercept[IllegalArgumentException] { VersionedTable.read(spark, dir) }
    VersionedTable.commit(spark, dir, Seq((1L, "a")).toDF("id", "x"))
    intercept[IllegalArgumentException] { VersionedTable.read(spark, dir, 7) }
  }

  private def fileCount(dir: String): Int = {
    val files = Files.list(Paths.get(s"$dir/files"))
    try files.count().toInt finally files.close()
  }

  test("a replayed (writer, batch) adds no version and no file") {
    val dir = freshDir("batch_replay")
    val v1 = VersionedTable.commit(spark, dir, Seq((1L, "a")).toDF("id", "x"), batch = Some(("w", 0L)))
    val nFiles = fileCount(dir)
    assert(VersionedTable.commit(spark, dir, Seq((1L, "a")).toDF("id", "x"),
      batch = Some(("w", 0L))) == v1)
    assert(VersionedTable.latestVersion(spark, dir) == v1)
    assert(fileCount(dir) == nFiles)
    // the record is per writer: another writer's batch 0 still lands
    assert(VersionedTable.commit(spark, dir, Seq((2L, "b")).toDF("id", "x"),
      batch = Some(("other", 0L))) == v1 + 1)
    assert(VersionedTable.read(spark, dir).select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("a batch staged but never published replays to exactly one copy") {
    val dir = freshDir("batch_crash")
    VersionedTable.commit(spark, dir, Seq((1L, "a")).toDF("id", "x"), batch = Some(("w", 0L)))
    // A writer of batch 1 that died before the CAS: its data staged and
    // moved under files/, no manifest names it.
    val batch1 = Seq((2L, "b"), (3L, "c")).toDF("id", "x")
    batch1.coalesce(1).write.parquet(s"$dir/_stage_dead0001")
    val part = Files.list(Paths.get(s"$dir/_stage_dead0001"))
    try {
      val p = part.filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.copy(p, Paths.get(s"$dir/files/v2-dead0001-0.parquet"))
    } finally part.close()
    assert(VersionedTable.commit(spark, dir, batch1, batch = Some(("w", 1L))) == 2)
    assert(VersionedTable.commit(spark, dir, batch1, batch = Some(("w", 1L))) == 2)
    assert(VersionedTable.read(spark, dir).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("two racing commits of one (writer, batch) land one version") {
    val dir = freshDir("batch_race")
    VersionedTable.commit(spark, dir, Seq((0L, "seed")).toDF("id", "x"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val racers = (1 to 2).map { _ =>
      Future(VersionedTable.commit(spark, dir, Seq((7L, "b")).toDF("id", "x"), batch = Some(("w", 3L))))
    }
    val versions = Await.result(Future.sequence(racers), 120.seconds)
    assert(versions == Seq(2, 2), versions.toString)
    assert(VersionedTable.latestVersion(spark, dir) == 2)
    assert(VersionedTable.read(spark, dir).select("id").as[Long].collect().sorted.toSeq == Seq(0L, 7L))
  }

  test("the batch record survives an overwrite and a compaction commit") {
    val dir = freshDir("batch_carry")
    VersionedTable.commit(spark, dir, Seq((1L, "a")).toDF("id", "x"), batch = Some(("w", 5L)))
    val v2 = VersionedTable.commit(spark, dir, Seq((2L, "b")).toDF("id", "x"), overwrite = true)
    assert(VersionedTable.commit(spark, dir, Seq((1L, "a")).toDF("id", "x"),
      batch = Some(("w", 5L))) == v2)
    // compaction: rewrite the head's rows as one overwrite, vacuum to it
    val v3 = VersionedTable.commit(spark, dir, VersionedTable.read(spark, dir).coalesce(1), overwrite = true)
    VersionedTable.vacuum(spark, dir, v3)
    assert(VersionedTable.commit(spark, dir, Seq((1L, "a")).toDF("id", "x"),
      batch = Some(("w", 4L))) == v3)
    assert(VersionedTable.read(spark, dir).select("id").as[Long].collect().toSeq == Seq(2L))
    // the next batch of the writer still lands
    assert(VersionedTable.commit(spark, dir, Seq((3L, "c")).toDF("id", "x"),
      batch = Some(("w", 6L))) == v3 + 1)
  }

  test("a compaction against a stale parent throws; the append it raced survives") {
    val dir = freshDir("stale_compact")
    VersionedTable.commit(spark, dir, Seq((1L, "a")).toDF("id", "x"), batch = Some(("w", 0L)))
    // the compaction reads v ...
    val v = VersionedTable.latestVersion(spark, dir)
    val live = VersionedTable.read(spark, dir, v).coalesce(1)
    // ... an append commits v + 1 ...
    assert(VersionedTable.commit(spark, dir, Seq((2L, "b")).toDF("id", "x"),
      batch = Some(("w", 1L))) == v + 1)
    val nFiles = fileCount(dir)
    // ... and the compaction's commit against v fails, writing nothing
    intercept[java.util.ConcurrentModificationException] {
      VersionedTable.commit(spark, dir, live, overwrite = true, expectedParent = Some(v))
    }
    assert(VersionedTable.latestVersion(spark, dir) == v + 1)
    assert(fileCount(dir) == nFiles)
    assert(!new java.io.File(dir).list().exists(_.startsWith("_stage_")))
    assert(VersionedTable.read(spark, dir).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
    // the append's batch record survives: its replay writes nothing
    assert(VersionedTable.commit(spark, dir, Seq((2L, "b")).toDF("id", "x"),
      batch = Some(("w", 1L))) == v + 1)
  }

  test("a staged file missing at the move fails the commit; no manifest is published") {
    val dir = freshDir("lost_stage")
    VersionedTable.commit(spark, dir, Seq((1L, "a")).toDF("id", "x"))
    spark.sparkContext.hadoopConfiguration.set("fs.vtlost.impl", classOf[LostStageFileSystem].getName)
    val lost = "vtlost://" + new java.io.File(dir).getAbsolutePath
    val err = intercept[java.io.IOException] {
      VersionedTable.commit(spark, lost, Seq((2L, "b")).toDF("id", "x"))
    }
    assert(err.getMessage.contains("_stage_") && err.getMessage.contains("/files/v2-"))
    assert(VersionedTable.latestVersion(spark, dir) == 1)
    assert(!Files.exists(Paths.get(s"$dir/_manifests/v2")))
    assert(VersionedTable.read(spark, dir).select("id").as[Long].collect().toSeq == Seq(1L))
  }
}
