package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ManifestTable

/** Read/write cycles against the manifest store, driven through the
  * public `ManifestTable` calls. Each cycle writes a fresh table under
  * `root`, so every cycle does the same work:
  *
  *   4 seeded append batches of `orders` (`commitBatch`), a full scan, a
  *   point scan, two `mergeKeys` of 200 seeded keys each, `deleteKeys` of
  *   200 other seeded keys, a full scan, a time-travel read of the
  *   post-append version, `compactDeletes`, then a full and a point scan
  *   again. (Two merges make the slowest call more than a tenth of the
  *   ops, so the p90 op time falls inside one call's distribution.)
  *
  * The seed picks the batch split, the merge and delete keys and the point
  * key. The first of three untimed warm-up cycles checks every scan
  * against a reference computed from `orders` with plain DataFrame
  * operations.
  */
final class StoreRw(spark: SparkSession, data: String, seed: Long, root: String)
    extends Workload {
  private val Batches = 4
  private val KeySet = 200
  private val WarmCycles = 3
  private val Key = "o_orderkey"

  private val orders: DataFrame = graft.Tables(spark, data).orders
  private val keys: Vector[Long] =
    orders.select(Key).collect().map(_.getLong(0)).toVector.sorted
  private val rng = new Random(seed)
  private val cuts: Vector[Int] =
    (0 +: rng.shuffle((1 until keys.size).toVector).take(Batches - 1).sorted) :+ keys.size
  private val batches: Seq[(Long, Long)] =
    cuts.sliding(2).map { case Seq(a, b) => (keys(a), keys(b - 1)) }.toSeq
  private val shuffled = rng.shuffle(keys)
  private val mergeSets: Seq[Seq[Long]] =
    Seq(shuffled.take(KeySet).sorted, shuffled.slice(2 * KeySet, 3 * KeySet).sorted)
  private val deleteSet: Seq[Long] = shuffled.slice(KeySet, 2 * KeySet).sorted
  private val pointKey: Long = shuffled(3 * KeySet)

  private val priceType = orders.schema("o_totalprice").dataType
  private def updates(ks: Seq[Long]): DataFrame = orders.filter(col(Key).isin(ks: _*))
    .withColumn("o_totalprice", (col("o_totalprice") + 1).cast(priceType))

  private val rowsWritten: Long = keys.size.toLong + mergeSets.map(_.size).sum

  /** 14 ops a cycle. */
  def opsPerPass: Int = Batches + 10

  private def read(path: String, opts: (String, String)*): DataFrame =
    opts.foldLeft(spark.read.format("graft.sources.ManifestTable").option("path", path)) {
      case (r, (k, v)) => r.option(k, v)
    }.load()

  private def point(df: DataFrame): DataFrame = df.filter(col(Key) === pointKey)

  /** Reference outputs, from `orders` alone. */
  private lazy val afterAppend: DataFrame = orders
  private lazy val afterMerge: DataFrame =
    orders.filter(!col(Key).isin(mergeSets.flatten ++ deleteSet: _*))
      .unionByName(updates(mergeSets.flatten))

  private val lastPath = mutable.Map.empty[Int, String]

  /** One cycle; `check` adds the fingerprint of each scan and its
    * reference to `checks`. */
  private def cycle(p: Int, trace: Option[Trace],
      checks: Option[mutable.ArrayBuffer[(String, Map[String, Any])]]): Seq[Sample] = {
    val path = s"$root/t$p"
    lastPath(p) = path
    val traced = trace.isDefined
    val out = mutable.ArrayBuffer.empty[Sample]
    def op(name: String, kind: String)(body: Sample => Unit): Unit =
      out += Timing.measure(new Sample(name, kind, p, traced), trace)(body)
    // a store call is one layer: its whole duration counts as execution
    def call(name: String, kind: String)(body: => Unit): Unit = op(name, kind) { s =>
      val t0 = Timing.now()
      body
      s.exec = Timing.now() - t0
    }
    def scan(name: String, kind: String, df: => DataFrame, ref: => DataFrame): Unit = {
      op(name, kind)(s => Timing.runDf(s, df))
      checks.foreach { cs =>
        val got = Fingerprint.of(df)
        val want = Fingerprint.of(ref)
        cs += name -> (if (got == want) Map("rows" -> got._1, "hash" -> got._2)
          else Map("error" -> s"fingerprint $got != reference $want"))
      }
    }
    batches.zipWithIndex.foreach { case ((lo, hi), b) =>
      call(s"append_$b", "append") {
        ManifestTable.commitBatch(spark, path, b.toLong,
          orders.filter(col(Key).between(lo, hi)))
      }
    }
    val appended = ManifestTable.currentManifest(path).map(_._1).getOrElse(-1)
    scan("scan_full_appended", "scan", read(path), afterAppend)
    scan("scan_point_appended", "scan", point(read(path)), point(afterAppend))
    mergeSets.zipWithIndex.foreach { case (ks, i) =>
      call(s"merge_$i", "merge") { ManifestTable.mergeKeys(spark, path, Key, updates(ks)) }
    }
    call("delete", "delete") { ManifestTable.deleteKeys(path, Key, deleteSet) }
    scan("scan_full_merged", "scan", read(path), afterMerge)
    scan("time_travel", "scan", read(path, "version" -> appended.toString), afterAppend)
    call("compact", "compact") { ManifestTable.compactDeletes(spark, path) }
    scan("scan_full_compacted", "scan", read(path), afterMerge)
    scan("scan_point_compacted", "scan", point(read(path)), point(afterMerge))
    out.toSeq
  }

  /** The checked cycle, then untimed cycles until the JIT has settled. */
  def warm(): (Seq[Sample], Seq[(String, Map[String, Any])]) = {
    val checks = mutable.ArrayBuffer.empty[(String, Map[String, Any])]
    val ss = (1 to WarmCycles).flatMap { i =>
      val s = cycle(-i, None, if (i == 1) Some(checks) else None)
      drop(-i)
      s
    }
    ss.filter(_.error.isDefined).foreach(s => checks += s.name -> Map("error" -> s.error.get))
    (ss, checks.toSeq)
  }

  def pass(p: Int, rng: Random, trace: Option[Trace]): Seq[Sample] = cycle(p, trace, None)

  /** Bytes on disk after the cycle, then the cycle's table is removed. */
  override def passExtras(p: Int): Map[String, Any] = {
    val path = lastPath(p)
    val dir = Paths.get(path)
    val all = files(dir)
    val (v, lines, _) = ManifestTable.currentManifest(path).get
    val live = ManifestTable.dataEntries(lines).map(l => ManifestTable.parseEntry(l)._1)
      .filterNot(_.endsWith(".rows")).map(dir.resolve)
    val manifest = dir.resolve(s"manifest-$v.json")
    val liveRows = keys.size.toLong - deleteSet.size
    val res = Map[String, Any](
      "write_bytes_per_row" -> all.map(Files.size).sum.toDouble / rowsWritten,
      "store_bytes_per_row" ->
        (live.map(Files.size).sum + Files.size(manifest)).toDouble / liveRows,
      "files_live" -> live.size,
      "manifest_kb" -> Files.size(manifest) / 1024.0)
    drop(p)
    res
  }

  private def files(dir: Path): Seq[Path] = {
    val w = Files.walk(dir)
    try w.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally w.close()
  }

  private def drop(p: Int): Unit = lastPath.remove(p).foreach { path =>
    val w = Files.walk(Paths.get(path))
    try w.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
    finally w.close()
  }
}
