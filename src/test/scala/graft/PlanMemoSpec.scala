package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.scheduler.graftaccess.Jobs
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The analyzed-plan memo: plans, never results. These tests pin the
  * load-bearing properties:
  *
  *   1. RUNTIME PURITY — a miss stores the plan only when the build
  *      started zero Spark jobs and every plan leaf is a store relation /
  *      literal / range. A cold build (schema-inference jobs), an eager
  *      build and a read outside the store are never stored.
  *   2. FRESH EXECUTION — a hit shares the analyzed LOGICAL plan but
  *      builds a new QueryExecution, so optimization/physical planning/
  *      execution re-run; nothing computed is reused, and every held
  *      query's results equal its direct build's.
  *   3. INVALIDATION — an in-place rewrite of a nested store file (same
  *      entry names, directory mtime unchanged) mints a new key.
  */
class PlanMemoSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.EngineSession.local("4")
  val sfDir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  private def jobs(): Int = Jobs.submitted(spark.sparkContext)

  /** Copies `src` (a parquet file or directory) to `dst`. */
  private def copyTree(src: Path, dst: Path): Unit =
    if (Files.isDirectory(src)) {
      Files.createDirectories(dst)
      Files.list(src).forEach(p => copyTree(p, dst.resolve(p.getFileName)))
    } else Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)

  /** A fresh copy of the store under `target`: nothing memoized for it. */
  private def freshStore(prefix: String): String = {
    val dir = Files.createTempDirectory(Paths.get("target"), prefix)
    Files.list(Paths.get(sfDir)).forEach(p => copyTree(p, dir.resolve(p.getFileName)))
    dir.toString
  }

  /** Order-insensitive, value-based rendering of a result. */
  private def rows(df: DataFrame): Seq[String] = {
    def canon(v: Any): String = v match {
      case null => "null"
      case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => s"${canon(k)}->${canon(x)}" }.sorted
          .mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case other => other.toString
    }
    df.collect().toSeq.map(canon).sorted
  }

  test("a cold build is not memoized, the next warm build is, and the third run hits") {
    val dir = freshStore("planmemo-cold")
    val q = QueryCatalog.byName("q07_scan_agg")
    val j0 = jobs()
    val p1 = q.run(spark, dir).queryExecution.analyzed
    assert(jobs() > j0, "precondition: the cold build infers schemas with Spark jobs")
    assert(!PlanMemo.held(spark, dir)(q.name), "a build that started jobs must not be stored")
    val j1 = jobs()
    val p2 = q.run(spark, dir).queryExecution.analyzed
    assert(jobs() == j1, "precondition: the warm build starts no jobs")
    assert(PlanMemo.held(spark, dir)(q.name), "a pure warm build must be stored")
    val p3 = q.run(spark, dir).queryExecution.analyzed
    assert(p3 eq p2, "the third run must hit the stored plan")
    assert(p1 ne p2)
  }

  test("non-memoized (eager) queries bypass the memo entirely") {
    val q = QueryCatalog.byName("d07_dup_clusters")
    val plans = (1 to 3).map { _ =>
      val j0 = jobs()
      val plan = q.run(spark, sfDir).queryExecution.analyzed
      assert(jobs() > j0, "precondition: every d07 build starts Spark jobs")
      plan
    }
    assert(!PlanMemo.held(spark, sfDir)(q.name))
    for (Seq(a, b) <- plans.combinations(2)) assert(a ne b)
  }

  test("a job-free build that reads parquet outside the store is never memoized") {
    val store = freshStore("planmemo-store")
    val elsewhere = Files.createTempDirectory(Paths.get("target"), "planmemo-foreign")
    copyTree(Paths.get(store, "region.parquet"), elsewhere.resolve("region.parquet"))
    // an explicit schema: no inference job, so only the leaf rule decides
    val schema = spark.read.parquet(s"$store/region.parquet").schema
    def reading(name: String, path: String => String) =
      QueryDef(name, None, (s, sf) => s.read.schema(schema).parquet(path(sf)))
    val outside = reading("synthetic_foreign_read", _ => s"$elsewhere/region.parquet")
    val inside = reading("synthetic_store_read", sf => s"$sf/region.parquet")

    val j0 = jobs()
    val plans = (1 to 3).map(_ => outside.run(spark, store).queryExecution.analyzed)
    assert(jobs() == j0, "precondition: the foreign read's builds start no jobs")
    assert(!PlanMemo.held(spark, store)(outside.name))
    for (Seq(a, b) <- plans.combinations(2)) assert(a ne b)

    // control: the same read rooted under the store is held
    val i1 = inside.run(spark, store).queryExecution.analyzed
    assert(PlanMemo.held(spark, store)(inside.name))
    assert(inside.run(spark, store).queryExecution.analyzed eq i1)
  }

  test("a memo hit is a fresh execution over the same analyzed plan, " +
      "with results equal to the direct build") {
    // cold then warm build of every query: the warm one fills the memo
    for (_ <- 1 to 2; q <- QueryCatalog.all) q.run(spark, sfDir)
    val held = PlanMemo.held(spark, sfDir)
    assert(held("q07_scan_agg"), s"held: ${held.toSeq.sorted}")
    val failures = QueryCatalog.all.filter(q => held(q.name)).flatMap { q =>
      val a = q.run(spark, sfDir)
      val b = q.run(spark, sfDir)
      if (a.queryExecution eq b.queryExecution)
        Some(s"${q.name}: runs share a QueryExecution (result reuse)")
      else if (a.queryExecution.analyzed ne b.queryExecution.analyzed)
        Some(s"${q.name}: second run missed the memo")
      else if (rows(b) != rows(q.build(spark, sfDir)))
        Some(s"${q.name}: memo hit differs from the direct build")
      else None
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("an in-place same-name rewrite of a nested store file misses the memo") {
    val dir = Files.createTempDirectory(Paths.get("target"), "planmemo").toString
    // a store containing only documents.parquet — enough for d01. The
    // harness store ships it as a single FILE; re-home it as a directory
    // parquet (one nested part file) so the rewrite below exercises the
    // nested-entry identity.
    val src = Paths.get(sfDir, "documents.parquet")
    val dst = Paths.get(dir, "documents.parquet")
    Files.createDirectories(dst)
    Files.copy(src, dst.resolve("part-00000.snappy.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val q = QueryCatalog.byName("d01_dedup_exact")
    q.run(spark, dir) // cold: schema inference, not stored
    val p1 = q.run(spark, dir).queryExecution.analyzed
    val p2 = q.run(spark, dir).queryExecution.analyzed
    assert(p1 eq p2, "stable store: a warm run must hit")
    // rewrite every nested entry IN PLACE: same names, same byte content,
    // fresh mtimes; the parent directory's own mtime does not change
    val dirMtimeBefore = dst.toFile.lastModified
    Files.list(dst).forEach { p =>
      val bytes = Files.readAllBytes(p)
      Files.write(p, bytes)
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis + 2000))
    }
    assert(dst.toFile.lastModified == dirMtimeBefore,
      "precondition: the rewrite must not touch the directory's own mtime")
    val p3 = q.run(spark, dir).queryExecution.analyzed
    assert(p3 ne p1, "rewritten store content must miss the plan memo")
  }
}
