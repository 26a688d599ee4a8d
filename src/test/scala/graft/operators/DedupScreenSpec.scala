package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The Bloom-screened incremental dedup path ([[Dedup.IndexScreen]] +
  * the screened [[Dedup.deduplicateAgainst]] overload).
  *
  * The load-bearing property is ZERO FALSE NEGATIVES: bloom filters can
  * only admit extra candidates (false positives cost work, not answers),
  * so the screened result must be row-identical to the unscreened
  * reference implementation on every corpus — including one sized to
  * force false positives, and one where nothing in the batch is anywhere
  * near the index (the case the screen exists for: the index leg is
  * skipped entirely, proven on the plan).
  */
class DedupScreenSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = graft.EngineSession.local("8")

  private val dir = java.nio.file.Files
    .createTempDirectory(java.nio.file.Paths.get("target"), "graft-screen")
    .toString

  override def afterAll(): Unit = spark.stop()

  private def docs(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  // ~40 distinct index docs: topical sentences plus one boilerplate
  private def indexRows: Seq[(Long, String)] =
    (0L until 40L).map { i =>
      i -> s"indexed document number $i talks about topic ${i % 7} in long detail with many words ${"pad " * (i % 5).toInt}"
    } :+ (40L -> "standard boilerplate footer text appearing everywhere verbatim")

  // incoming: exact dup of index, near-dup of index, in-batch exact pair,
  // in-batch near-dup pair, and novel docs
  private def incomingRows: Seq[(Long, String)] = Seq(
    100L -> "standard boilerplate footer text appearing everywhere verbatim",
    101L -> ("indexed document number 7 talks about topic 0 in long detail " +
      "with many words extra"),
    102L -> "fresh content alpha beta gamma delta epsilon zeta eta theta",
    103L -> "fresh content alpha beta gamma delta epsilon zeta eta theta",
    104L -> "brand new subject matter one two three four five six seven eight",
    105L -> "brand new subject matter one two three four five six seven nine",
    106L -> "completely unrelated novel document with its own vocabulary entirely")

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  /** The directory names `df`'s file scans read, subqueries included: in
    * its initial plan, then in its final adaptive plan once it has run.
    * (A plan string cuts a scan's location to 100 characters, so whether
    * a name shows there depends on the length of the path before it.)
    */
  private def scannedDirs(df: DataFrame): (Set[String], Set[String]) = {
    val plan = df.queryExecution.executedPlan
    def dirs = collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.getName)
    }.flatten.toSet
    val initial = dirs
    df.collect()
    (initial, dirs)
  }

  test("screened result is row-identical to the unscreened reference") {
    val index = docs(indexRows)
    val incoming = docs(incomingRows)
    val expected = ids(Dedup.deduplicateAgainst(incoming, index, 0.5))
    val screen = Dedup.buildIndexScreen(index, expectedDocs = 64L)
    val got = ids(Dedup.deduplicateAgainst(incoming, index, screen, 0.5))
    assert(got === expected)
    // sanity on the scenario itself: exact-of-index and near-of-index
    // drop, one of each in-batch pair drops, novelty survives
    assert(!got.contains(100L) && !got.contains(101L))
    assert(got.contains(102L) && !got.contains(103L))
    assert(got.contains(104L) && !got.contains(105L))
    assert(got.contains(106L))
  }

  test("forced false positives (tiny undersized blooms) stay correct") {
    val index = docs(indexRows)
    val incoming = docs(incomingRows)
    // expectedDocs=1 → nBits floors at 64 for ~123 keys: the band bloom
    // saturates and fires on nearly everything — pure-FP regime
    val screen = Dedup.buildIndexScreen(index, expectedDocs = 1L, fpp = 0.5)
    val expected = ids(Dedup.deduplicateAgainst(incoming, index, 0.5))
    assert(ids(Dedup.deduplicateAgainst(incoming, index, screen, 0.5)) === expected)
  }

  test("empty index: screened path degrades to in-batch dedup") {
    val index = docs(Seq.empty).limit(0)
    val incoming = docs(incomingRows)
    val screen = Dedup.buildIndexScreen(index, expectedDocs = 1L)
    assert(screen.textBloom === null)
    val got = ids(Dedup.deduplicateAgainst(incoming, index, screen, 0.5))
    assert(got === ids(Dedup.deduplicateAgainst(incoming, index, 0.5)))
    assert(got === Set(100L, 101L, 102L, 104L, 106L))
  }

  test("all-novel batch: both bloom legs clear it, zero index scans") {
    // parquet-backed on BOTH sides: a LocalRelation batch lets Catalyst
    // constant-fold the bloom filters at optimization time (correct but
    // unrepresentative); file-backed is what a micro-batch looks like
    docs(indexRows).write.mode("overwrite").parquet(s"$dir/acceptedidx")
    val index = spark.read.parquet(s"$dir/acceptedidx")
    val screen = Dedup.buildIndexScreen(index, expectedDocs = 64L)
    docs(Seq(
      200L -> "zeppelin quartz jackdaw vex nymph waltz fjord glyphs become",
      201L -> "mumbling xylophones quietly vibrate under checkered viaducts today"))
      .write.mode("overwrite").parquet(s"$dir/novelbatch")
    val novel = spark.read.parquet(s"$dir/novelbatch")
    val out = Dedup.deduplicateAgainst(novel, index, screen, 0.5)
    assert(ids(out) === Set(200L, 201L))
    // the 100 TB property: with no bloom hit on either leg, the final
    // plan reads the batch only — the accepted index is NEVER scanned
    // (both screens resolved by bounded batch-side driver checks)
    val (initial, last) = scannedDirs(out)
    for (scanned <- Seq(initial, last)) {
      assert(scanned.contains("novelbatch"), scanned)
      assert(!scanned.contains("acceptedidx"),
        "all-novel batch must not scan the index: " + out.queryExecution.executedPlan)
    }
  }

  test("risky batch: the index leg engages and still confirms exactly") {
    docs(indexRows).write.mode("overwrite").parquet(s"$dir/acceptedidx")
    val index = spark.read.parquet(s"$dir/acceptedidx")
    // exact dup of an index doc → textBloom fires; near-dup of an index
    // doc → its band key fires bandBloom: both index legs engage
    docs(Seq(
      299L -> "standard boilerplate footer text appearing everywhere verbatim",
      300L -> ("indexed document number 12 talks about topic 5 in long " +
        "detail with many words pad pad extra"),
      301L -> "totally novel content nowhere near the accepted corpus at all"))
      .write.mode("overwrite").parquet(s"$dir/riskybatch")
    val batch = spark.read.parquet(s"$dir/riskybatch")
    val screen = Dedup.buildIndexScreen(index, expectedDocs = 64L)
    val out = Dedup.deduplicateAgainst(batch, index, screen, 0.5)
    val got = ids(out)
    assert(got === ids(Dedup.deduplicateAgainst(batch, index, 0.5)))
    assert(!got.contains(299L) && !got.contains(300L) && got.contains(301L))
    val plan = out.queryExecution.executedPlan.toString
    // the bloom pre-filter survives in the plan on a file-backed batch,
    // and the index enters through scans + broadcast probes, not shuffles
    assert(plan.contains("might_contain"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
    val (initial, last) = scannedDirs(out)
    assert(initial.contains("acceptedidx") && last.contains("acceptedidx"), plan)
  }
}
