package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ManifestTable

/** MERGE/upsert lifecycle on the manifest table: one-version atomicity
  * (the merge's delete never kills its own inserts — the sequencing rule),
  * matched keys replaced exactly once, novel keys inserted, history
  * intact, fold + vacuum behavior, schema/key validation, one Spark job
  * per merge, and the delete key file's content on duplicate, null and
  * IntegerType keys.
  */
class ManifestMergeSpec extends AnyFunSuite with SparkSessionFixture {

  import spark.implicits._

  private val Fmt = "graft.sources.ManifestTable"

  private def freshTable(): String = {
    val dir = Files.createTempDirectory("graft_manifest_merge").toString
    (1L to 20L).map(i => (i, s"row$i", i * 10L)).toDF("id", "s", "v")
      .write.format(Fmt).option("path", dir).mode("append").save()
    dir
  }

  private def readAll(dir: String, version: Option[Int] = None): Seq[(Long, String, Long)] = {
    val r = spark.read.format(Fmt).option("path", dir)
    version.foreach(v => r.option("version", v))
    r.load().as[(Long, String, Long)].collect().toSeq.sortBy(_._1)
  }

  test("matched keys are replaced exactly once; untouched rows intact") {
    val dir = freshTable()
    val updates = Seq((3L, "row3x", 999L), (7L, "row7x", 777L))
      .toDF("id", "s", "v")
    val v = ManifestTable.mergeKeys(spark, dir, "id", updates)
    assert(v == 2)
    val rows = readAll(dir)
    assert(rows.size == 20, "merge of existing keys must not change the count")
    assert(rows.map(_._1) == (1L to 20L), "exactly one row per key")
    assert(rows.find(_._1 == 3L).contains((3L, "row3x", 999L)))
    assert(rows.find(_._1 == 7L).contains((7L, "row7x", 777L)))
    assert(rows.find(_._1 == 5L).contains((5L, "row5", 50L)))
  }

  test("novel keys insert (WHEN NOT MATCHED); mixed batch does both") {
    val dir = freshTable()
    val updates = Seq((20L, "row20x", 1L), (21L, "row21", 210L), (25L, "row25", 250L))
      .toDF("id", "s", "v")
    ManifestTable.mergeKeys(spark, dir, "id", updates)
    val rows = readAll(dir)
    assert(rows.size == 22)
    assert(rows.find(_._1 == 20L).contains((20L, "row20x", 1L)))
    assert(rows.find(_._1 == 21L).contains((21L, "row21", 210L)))
    assert(rows.find(_._1 == 25L).contains((25L, "row25", 250L)))
  }

  test("one-version atomicity: exactly one new snapshot; history pre-merge intact") {
    val dir = freshTable()
    ManifestTable.mergeKeys(spark, dir, "id",
      Seq((1L, "x", 0L)).toDF("id", "s", "v"))
    assert(ManifestTable.currentManifest(dir).get._1 == 2,
      "a merge commits ONE version (delete + inserts together)")
    assert(readAll(dir, Some(1)).find(_._1 == 1L).contains((1L, "row1", 10L)))
  }

  test("sequencing: a later plain delete still covers merged rows; an earlier one does not") {
    val dir = freshTable()
    ManifestTable.mergeKeys(spark, dir, "id",
      Seq((4L, "merged4", 44L)).toDF("id", "s", "v"))
    // the merge's own delete must NOT have removed its insert
    assert(readAll(dir).find(_._1 == 4L).contains((4L, "merged4", 44L)))
    // a NEW delete after the merge covers the merged row (later line)
    ManifestTable.deleteKeys(dir, "id", Seq(4L))
    assert(!readAll(dir).exists(_._1 == 4L))
  }

  test("compactDeletes folds the merged state physically; values unchanged") {
    val dir = freshTable()
    ManifestTable.mergeKeys(spark, dir, "id",
      Seq((2L, "row2x", 222L)).toDF("id", "s", "v"))
    val before = readAll(dir)
    ManifestTable.compactDeletes(spark, dir)
    assert(readAll(dir) == before)
    val lines = ManifestTable.currentManifest(dir).get._2
    assert(ManifestTable.deleteEntriesOf(lines).isEmpty,
      "the folded snapshot carries no delete entries")
    ManifestTable.vacuum(dir)
    assert(readAll(dir) == before, "vacuum keeps every referenced file readable")
  }

  test("validation: schema mismatch and non-integral keys fail loudly") {
    val dir = freshTable()
    intercept[IllegalArgumentException] {
      ManifestTable.mergeKeys(spark, dir, "id",
        Seq((1L, "x")).toDF("id", "s"))
    }
    intercept[IllegalArgumentException] {
      ManifestTable.mergeKeys(spark, dir, "s",
        Seq((1L, "x", 0L)).toDF("id", "s", "v"))
    }
  }

  /** Spark jobs `op` starts from this thread (tagged by a job group, so
    * a stream another suite left running can't add to the count). */
  private def jobsStartedBy(op: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"merge-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try { op; ListenerBusDrain.drain(sc); jobs.get() }
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }

  test("one job per merge: as many jobs as a plain append; no scratch left") {
    val dir = freshTable()
    // shuffle-free: a local relation, staged without an exchange
    val updates = Seq((3L, "row3x", 999L), (30L, "row30", 300L)).toDF("id", "s", "v")
    val empty = Files.createTempDirectory("graft_manifest_merge_append").toString
    val appendJobs = jobsStartedBy {
      updates.write.format(Fmt).option("path", empty).mode("append").save()
    }
    val mergeJobs = jobsStartedBy { ManifestTable.mergeKeys(spark, dir, "id", updates) }
    assert(appendJobs >= 1)
    assert(mergeJobs == appendJobs,
      s"mergeKeys started $mergeJobs jobs, a plain append $appendJobs")
    val listing = Files.list(Paths.get(dir))
    val scratch = try listing.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith(".merge_stage_") || n.startsWith(".merge_keys_")).toList
    finally listing.close()
    assert(scratch.isEmpty, s"merge scratch left behind: $scratch")
  }

  /** A table keyed on `id` of `keyType` (rows 1..6), and an update batch
    * with a duplicated matched key, a novel key and a null key. */
  private def edgeCase(keyType: String): (String, DataFrame, DataFrame) = {
    val dir = Files.createTempDirectory("graft_manifest_merge_edge").toString
    val base = (1 to 6).map(i => (Option(i.toLong), s"row$i")).toDF("id", "s")
      .selectExpr(s"CAST(id AS $keyType) AS id", "s")
    base.write.format(Fmt).option("path", dir).mode("append").save()
    val updates = Seq((Option(4L), "four-a"), (Option(2L), "two"),
        (Option(4L), "four-b"), (None, "nokey"), (Option(9L), "nine"))
      .toDF("id", "s").selectExpr(s"CAST(id AS $keyType) AS id", "s")
    (dir, base, updates)
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  for (keyType <- Seq("BIGINT", "INT")) {
    test(s"merge scan == anti-join + union reference ($keyType key, dup + null keys)") {
      val (dir, base, updates) = edgeCase(keyType)
      // the reference: every base row whose key no update row carries,
      // plus every update row (the null-key row inserts, matching nothing)
      val expected = base.join(updates.select("id").where("id IS NOT NULL"),
          Seq("id"), "left_anti").unionByName(updates)
      ManifestTable.mergeKeys(spark, dir, "id", updates)
      val got = spark.read.format(Fmt).option("path", dir).load()
      assert(rowsOf(got) == rowsOf(expected))
      assert(rowsOf(got.where("id = 4")) == Seq("[4,four-a]", "[4,four-b]"),
        "the matched key's old row is gone; both update rows land")
      assert(rowsOf(got.where("id IS NULL")) == Seq("[null,nokey]"))
    }

    test(s"the delete key file lists the sorted distinct non-null keys ($keyType key)") {
      val (dir, _, updates) = edgeCase(keyType)
      ManifestTable.mergeKeys(spark, dir, "id", updates)
      val dels = ManifestTable.deleteEntriesOf(ManifestTable.currentManifest(dir).get._2)
      assert(dels.map(_._2) == Seq("id"))
      val keyLines = Files.readAllLines(Paths.get(dir).resolve(dels.head._1),
        StandardCharsets.UTF_8).asScala.toSeq
      assert(keyLines == Seq("2", "4", "9"))
    }
  }
}
