package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Incremental processing / CDC surface: the operations a corpus that is
  * REBUILT NEVER and UPDATED DAILY actually runs. A 100 TB training-data
  * pipeline does not recompute from scratch per release — it diffs the new
  * snapshot against the last one, applies a changelog with latest-wins
  * semantics, dedups only the incoming delta against the accepted corpus
  * index, recomputes only the partitions late data dirtied, and gates the
  * whole thing behind a constraint audit.
  *
  * Reference scope note: heparchy is snapshot-only storage (write once,
  * read many — `write/hdf.py` finalizes `num_evts` at close and has no
  * update path at all); everything here is north-star pipeline capability.
  * All five queries are fully SQL-expressible and oracle-gated.
  *
  * The two "snapshots" and the changelog are DERIVED deterministically
  * from the `documents` table (the driver owns the test data; synthesizing
  * our own parquet is out of contract): v1 drops `doc_id % 7 = 0` and
  * carries a ` draft` suffix on `doc_id % 5 = 0` texts; v2 drops
  * `doc_id % 11 = 0`. Every derivation is a scan-fused projection — the
  * snapshots cost nothing beyond the scan they wrap.
  */
object Incremental {

  private def q(name: String, oracle: String)(
      run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, Some(oracle), run)

  // ---------------------------------------------------------------- v1/v2

  /** Yesterday's snapshot: doc_id % 7 = 0 rows absent (they will ARRIVE),
    * doc_id % 5 = 0 texts in a ` draft` revision (they will CHANGE).
    */
  private[graft] def snapshotV1(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" draft")))
          .otherwise(col("text")).as("text"))

  /** Today's snapshot: doc_id % 11 = 0 rows gone (they were REMOVED). */
  private[graft] def snapshotV2(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"), col("source"), col("text"))

  private[operators] val v1SqlCte: String =
    """v1 AS (SELECT doc_id, source,
      |         CASE WHEN doc_id % 5 = 0 THEN text || ' draft' ELSE text END AS text
      |       FROM documents WHERE doc_id % 7 <> 0)""".stripMargin

  private[operators] val v2SqlCte: String =
    """v2 AS (SELECT doc_id, source, text
      |       FROM documents WHERE doc_id % 11 <> 0)""".stripMargin

  // ----------------------------------------------------------------- i01

  /** i01: snapshot diff — the release-note query. Which documents were
    * added / removed / changed / unchanged between two corpus snapshots,
    * counted per source.
    *
    * Scale shape: each side projects down to (doc_id, source, md5(text))
    * BEFORE the join, so the full-outer shuffle moves 3 narrow columns,
    * never the text bodies; the status map is row-local and the per-
    * (source, status) aggregate is map-side combined. One co-partitioned
    * shuffle per side — and if the snapshots are stored bucketed by
    * doc_id (the production layout this engine's parquet stores use for
    * cluster artifacts), the exchange disappears entirely.
    */
  val snapshotDiff: QueryDef = q(
    "i01_snapshot_diff",
    s"""WITH $v1SqlCte, $v2SqlCte,
       |h1 AS (SELECT doc_id, source, md5(text) AS h FROM v1),
       |h2 AS (SELECT doc_id, source, md5(text) AS h FROM v2),
       |d AS (SELECT coalesce(h2.source, h1.source) AS source,
       |        CASE WHEN h1.doc_id IS NULL THEN 'added'
       |             WHEN h2.doc_id IS NULL THEN 'removed'
       |             WHEN h1.h <> h2.h THEN 'changed'
       |             ELSE 'unchanged' END AS status
       |      FROM h1 FULL OUTER JOIN h2 ON h1.doc_id = h2.doc_id)
       |SELECT source, status, count(*) AS n_docs
       |FROM d GROUP BY source, status
       |ORDER BY source, status""".stripMargin) { (s, d) =>
    val h1 = snapshotV1(s, d)
      .select(col("doc_id").as("id1"), col("source").as("src1"),
        md5(col("text")).as("h1"))
    val h2 = snapshotV2(s, d)
      .select(col("doc_id").as("id2"), col("source").as("src2"),
        md5(col("text")).as("h2"))
    h1.join(h2, col("id1") === col("id2"), "full_outer")
      .select(coalesce(col("src2"), col("src1")).as("source"),
        when(col("id1").isNull, lit("added"))
          .when(col("id2").isNull, lit("removed"))
          .when(col("h1") =!= col("h2"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("source", "status")
  }

  // ----------------------------------------------------------------- i02

  /** The derived changelog: I (new arrival), U (revision — possibly more
    * than one per key, seq-ordered), D (removal). `doc_id % 70 = 0` keys
    * carry an I then nothing else; `% 55 = 0` keys carry both an I/U and
    * a terminal D — latest-wins must land on the D.
    */
  private[graft] def changelog(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val ins = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), lit(1).as("seq"), lit("I").as("op"), col("text"))
    val up1 = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), lit(1).as("seq"), lit("U").as("op"),
        col("text").as("text"))
    val up2 = docs.filter(col("doc_id") % 10 === 0 && col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), lit(2).as("seq"), lit("U").as("op"),
        concat(col("text"), lit(" rev2")).as("text"))
    val del = docs.filter(col("doc_id") % 11 === 0)
      .select(col("doc_id"), lit(3).as("seq"), lit("D").as("op"),
        lit("").as("text"))
    ins.union(up1).union(up2).union(del)
  }

  private val changelogSql: String =
    """chg AS (
      |  SELECT doc_id, 1 AS seq, 'I' AS op, text FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id, 1, 'U', text FROM documents WHERE doc_id % 5 = 0 AND doc_id % 7 <> 0
      |  UNION ALL
      |  SELECT doc_id, 2, 'U', text || ' rev2' FROM documents WHERE doc_id % 10 = 0 AND doc_id % 7 <> 0
      |  UNION ALL
      |  SELECT doc_id, 3, 'D', '' FROM documents WHERE doc_id % 11 = 0)""".stripMargin

  /** Latest-wins reduction of a changelog: ONE map-side-combined
    * max(struct(seq, op, text)) per key — not a window (a window
    * sort-shuffles every changelog row; the aggregate moves one struct per
    * key). Columns: doc_id, op, text.
    */
  def latestPerKey(changelog: DataFrame): DataFrame =
    changelog
      .groupBy(col("doc_id"))
      .agg(max(struct(col("seq"), col("op"), col("text"))).as("top"))
      .select(col("doc_id"), col("top.op").as("op"), col("top.text").as("text"))

  /** Apply a latest-wins changelog state to a base snapshot: D removes,
    * I/U upserts its text, untouched base rows pass through. The base is
    * never shuffled — one left-anti join against the (small) latest table
    * plus a union; at 100 TB the daily changelog side broadcasts.
    */
  def applyLatest(base: DataFrame, latest: DataFrame): DataFrame = {
    val untouched =
      base.join(latest.select("doc_id"), Seq("doc_id"), "left_anti")
    val upserts = latest.filter(col("op") =!= "D").select("doc_id", "text")
    untouched.select("doc_id", "text").union(upserts)
  }

  /** i02: latest-wins upsert merge (the CDC MERGE / compaction kernel).
    * Applies the changelog to snapshot v1: per key the highest-seq op
    * decides — D removes, I/U upserts its text, untouched keys pass
    * through. Composes [[latestPerKey]] (one struct per key — seqs are
    * unique per key by construction, so the struct ordering never
    * consults the tie fields) with [[applyLatest]] (a single anti-join +
    * union; at 100 TB the daily changelog side broadcasts and the base
    * never shuffles).
    */
  val upsertMerge: QueryDef = q(
    "i02_upsert_merge",
    s"""WITH $v1SqlCte, $changelogSql,
       |ranked AS (SELECT doc_id, op, text,
       |             row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
       |           FROM chg),
       |fin AS (SELECT doc_id, op, text FROM ranked WHERE rn = 1),
       |merged AS (
       |  SELECT v1.doc_id, v1.text
       |  FROM v1 LEFT JOIN fin ON v1.doc_id = fin.doc_id
       |  WHERE fin.doc_id IS NULL
       |  UNION ALL
       |  SELECT doc_id, text FROM fin WHERE op <> 'D')
       |SELECT doc_id, md5(text) AS text_hash
       |FROM merged ORDER BY doc_id""".stripMargin) { (s, d) =>
    val base = snapshotV1(s, d).select(col("doc_id"), col("text"))
    applyLatest(base, latestPerKey(changelog(s, d)))
      .select(col("doc_id"), md5(col("text")).as("text_hash"))
      .orderBy("doc_id")
  }

  // ----------------------------------------------------------------- i03

  /** i03: DELTA dedup — the incremental form of d03/d05. A batch of
    * incoming documents (doc_id % 13 = 0, re-keyed negative, text lightly
    * revised — plus a few genuinely fresh texts on % 26 = 0) is screened
    * against the ALREADY-ACCEPTED corpus: exact copies and near-dups
    * (trigram Jaccard ≥ 0.6 via LSH candidates) of corpus rows — or of
    * other delta rows (keep-min) — drop; survivors are what ingest
    * appends. Corpus rows are never dropped and never re-clustered.
    *
    * This is THE dedup most days at 100 TB: the full-corpus lanes
    * (d03/d07) run once per snapshot; daily ingest runs this. Cost is
    * proportional to the DELTA: the corpus contributes one signature
    * pass (in production, a materialized band-key artifact — see
    * [[Dedup.buildIndexScreen]] for the broadcast-bloom variant the
    * streaming ingest path uses) and the band join fans out only where
    * delta bands collide.
    */
  /** The i03 delta-vs-corpus LSH screen as shared oracle CTEs (through
    * `surv`, the accepted delta rows) — i03 gates the screen itself and
    * i08 reuses it verbatim inside the composed-pipeline replay, so the
    * two oracles cannot drift. nearDupPairs banding (SIGS = 8,
    * BANDS = 2) over the exact-collapsed union, restated from the d03
    * oracle with `coll` as source.
    */
  private def screenCtes: String = screenCtes(mat = false)

  /** `mat = true` fences the heavy multi-referenced CTEs with DuckDB's
    * `MATERIALIZED` keyword — the d21 lesson: md5-derived cardinalities
    * misestimate join orders, and i08's summary re-references the chain
    * (scalar subqueries over delta/surv, fin over corpus+surv), which
    * without the fence re-plans the whole LSH screen per reference at
    * 100×. i03 keeps the un-fenced form (its sf10 oracle passes as-is).
    */
  private def screenCtes(mat: Boolean): String = {
    val M = if (mat) "MATERIALIZED " else ""
    val bandSelects = (0 until 2).map { b =>
      val parts = (0 until 4).map(r => s"m${b * 4 + r}").mkString("||")
      s"SELECT doc_id, $b AS band_idx, md5($parts) AS band_val FROM sig"
    }.mkString(" UNION ALL ")
    val sigCols = (0 until 8).map { k =>
      val src = s"h${k / 4 + 1}"
      val pos = (k % 4) * 8 + 1
      s"min(substr($src, $pos, 8)) AS m$k"
    }.mkString(", ")
    s"""corpus AS ${M}(SELECT doc_id, text FROM documents),
       |delta AS ${M}(SELECT -doc_id - 1 AS doc_id,
       |            CASE WHEN doc_id % 26 = 0
       |                 THEN 'entirely fresh content row ' || CAST(doc_id AS VARCHAR)
       |                 ELSE text || ' appended' END AS text
       |          FROM documents WHERE doc_id % 13 = 0),
       |allr AS (SELECT doc_id, text, FALSE AS is_new FROM corpus
       |         UNION ALL SELECT doc_id, text, TRUE FROM delta),
       |coll AS ${M}(SELECT doc_id, text, is_new FROM (
       |           SELECT doc_id, text, is_new,
       |             row_number() OVER (PARTITION BY text ORDER BY is_new, doc_id) AS rn
       |           FROM allr) WHERE rn = 1),
       |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM coll),
       |tri AS ${M}(SELECT DISTINCT doc_id,
       |          unnest(list_transform(range(1, greatest(len(ws)-2, 0)+1),
       |            i -> ws[CAST(i AS INT)]||' '||ws[CAST(i AS INT)+1]||' '||ws[CAST(i AS INT)+2])) AS s
       |        FROM w),
       |hs AS (SELECT doc_id, md5(s) AS h1, md5('s:'||s) AS h2 FROM tri),
       |sig AS (SELECT doc_id, $sigCols FROM hs GROUP BY doc_id),
       |bands AS ($bandSelects),
       |cand AS ${M}(SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a
       |         JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |                     AND a.doc_id < b.doc_id),
       |sz AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id),
       |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS i
       |          FROM cand c
       |          JOIN tri ta ON ta.doc_id = c.doc_a
       |          JOIN tri tb ON tb.doc_id = c.doc_b AND ta.s = tb.s
       |          GROUP BY c.doc_a, c.doc_b),
       |conf AS (SELECT i.doc_a, i.doc_b
       |         FROM inter i
       |         JOIN sz sa ON sa.doc_id = i.doc_a
       |         JOIN sz sb ON sb.doc_id = i.doc_b
       |         WHERE i.i * 1.0 / (sa.n + sb.n - i.i) >= 0.6),
       |flags AS (SELECT doc_id, is_new FROM coll),
       |drops AS (SELECT DISTINCT
       |            CASE WHEN fa.is_new AND NOT fb.is_new THEN c.doc_a
       |                 WHEN fb.is_new AND NOT fa.is_new THEN c.doc_b
       |                 ELSE c.doc_b END AS doc_id
       |          FROM conf c
       |          JOIN flags fa ON fa.doc_id = c.doc_a
       |          JOIN flags fb ON fb.doc_id = c.doc_b
       |          WHERE fa.is_new OR fb.is_new),
       |surv AS ${M}(SELECT d.doc_id, d.text
       |         FROM delta d
       |         JOIN coll ON coll.doc_id = d.doc_id AND coll.is_new
       |         WHERE NOT EXISTS (SELECT 1 FROM drops dr WHERE dr.doc_id = d.doc_id))""".stripMargin
  }

  val deltaDedup: QueryDef = {
    q("i03_delta_dedup",
      s"""WITH $screenCtes
         |SELECT doc_id FROM surv ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val corpus = Tables.parallel(docs)
      val delta = docs.filter(col("doc_id") % 13 === 0)
        .select((-col("doc_id") - 1).as("doc_id"),
          when(col("doc_id") % 26 === 0,
            concat(lit("entirely fresh content row "),
              col("doc_id").cast("string")))
            .otherwise(concat(col("text"), lit(" appended"))).as("text"))
      Dedup.deduplicateAgainst(delta, corpus, 0.6)
        .select("doc_id").orderBy("doc_id")
    }
  }

  // ----------------------------------------------------------------- i07

  /** i07: i03's delta dedup FROM THE MATERIALIZED BAND-KEY ARTIFACT
    * ([[Dedup.writeBandIndex]] / [[Dedup.loadBandIndex]]) — the
    * delta-proportional production path. Same oracle SQL as i03 (the
    * artifact path is output-equal by construction; this gate hash-pins
    * it), but the engine side never re-fingerprints the corpus: the
    * artifact build runs once (inline here per the self-contained driver
    * contract — in production it runs at snapshot publish), and the
    * screen probes it with batch-sized broadcasts plus a
    * candidate-pruned read of the trigram relation. BASELINE.md's r12
    * table measures the separation: build cost scales with the corpus,
    * screen cost tracks the delta.
    *
    * Artifact siting: a DETERMINISTIC per-store path keyed by the
    * canonical sfDir plus the corpus file's mtime+length (so a rebuilt
    * store at the same path gets a fresh artifact), reused across
    * warm-up/bench/verify passes — r12 leaked one corpus-sized temp
    * artifact per invocation (3 per bench run, hundreds of MB each at
    * sf10, on a box with ENOSPC history). One artifact per store now,
    * and the reuse is exactly production's shape: build once at
    * publish, screen many times.
    */
  val deltaDedupArtifact: QueryDef = q(
    "i07_delta_dedup_artifact", deltaDedup.oracle.get) { (s, d) =>
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val delta = docs.filter(col("doc_id") % 13 === 0)
      .select((-col("doc_id") - 1).as("doc_id"),
        when(col("doc_id") % 26 === 0,
          concat(lit("entirely fresh content row "),
            col("doc_id").cast("string")))
          .otherwise(concat(col("text"), lit(" appended"))).as("text"))
    val root = bandIndexFor(s, d)
    Dedup.deduplicateAgainst(delta, Dedup.loadBandIndex(s, root), 0.6)
      .select("doc_id").orderBy("doc_id")
  }

  /** The reusable band-index artifact for a store dir: build if absent
    * (detected via the meta relation [[Dedup.bandIndexCovered]] reads —
    * meta is written last, so a torn build reads as absent). `covered`
    * keys a separate artifact (i07 screens an unversioned one; i08's
    * pipeline repair demands covered = 1 to match its corpus v1).
    *
    * CONCURRENT-BUILDER SAFE: the artifact key is deterministic, and the
    * documented two-JVM sweep workflow (verify skill: split the query
    * list across two Verify JVMs) can race two builders here — two
    * in-place builds into the same root would collide in the committer's
    * shared `_temporary/0` (the exact corruption the two-real-JVM publish
    * race exposed in the versioned store). So each builder stages into a
    * UNIQUE sibling and atomically renames it to the keyed root: rename
    * onto an existing directory fails, the loser deletes its staging and
    * uses the winner's artifact. Readers in other processes never see a
    * half-built keyed root at all. ArtifactRaceSpec pins the race.
    */
  private[graft] def bandIndexFor(s: SparkSession, sfDir: String,
      covered: Int = -1): String = {
    val src = new java.io.File(sfDir, "documents.parquet")
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest((s"${new java.io.File(sfDir).getCanonicalPath}|" +
        s"${src.lastModified}|${src.length}|c$covered").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    val root = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_ARTIFACT_DIR",
        System.getProperty("java.io.tmpdir")), s"graft-bandidx-$key")
    def present: Boolean =
      try { Dedup.bandIndexCovered(s, root.toString); true }
      catch { case _: org.apache.spark.sql.AnalysisException => false }
    if (!present) {
      // reclaim staging stranded by builders that DIED mid-write, age-gated:
      // younger siblings may be a concurrent builder still staging
      val now = System.currentTimeMillis()
      Option(root.getParentFile.listFiles()).getOrElse(Array.empty)
        .filter(d => (d.getName.startsWith(s"${root.getName}.build-") ||
          d.getName.startsWith(s"${root.getName}.torn-")) &&
          now - d.lastModified >= graft.sources.VersionedStore.DefaultDebrisGraceMs)
        .foreach(d => deleteTree(d.toString))
      val staging = new java.io.File(root.getParentFile,
        s"${root.getName}.build-${java.util.UUID.randomUUID().toString.take(8)}")
      Dedup.writeBandIndex(
        Tables.parallel(Tables.documents(s, sfDir).select("doc_id", "text")),
        staging.toString, covered = covered)
      try graft.sources.NioControl.move(staging.toPath, root.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileAlreadyExistsException |
             _: java.nio.file.FileSystemException =>
          if (present) deleteTree(staging.toString) // concurrent builder won
          else {
            // the keyed root EXISTS but has no readable meta — a torn
            // artifact (pre-staging-era crash mid-build, or damaged by
            // hand). No healthy reader can depend on it (every load goes
            // through meta), so self-heal: move it aside ATOMICALLY (a
            // concurrent present-probe must never see a half-deleted
            // root), retry the publish rename once, then drop the torn
            // debris. Without this the staging delete + require below
            // made the torn state PERMANENT — every rebuild failed here
            // until a human deleted the root.
            val torn = new java.io.File(root.getParentFile,
              s"${root.getName}.torn-${java.util.UUID.randomUUID().toString.take(8)}")
            // re-probe IMMEDIATELY before destroying anything: a
            // concurrent healer may have completed between the outer
            // probe and here, and moving aside its fresh HEALTHY root
            // would break readers already scanning it. The residual
            // probe-to-move gap is microseconds against a whole heal.
            // every move (the initial publish above and each heal leg
            // here) routes through the NioControl fault seam — the same
            // hook the claim/pointer primitives use — so each leg's
            // crash contract is testable: ArtifactRaceSpec faults the
            // publish legs and the torn-restore leg
            var tornRestoreFailed = false
            val healed = !present && {
              try {
                graft.sources.NioControl.move(root.toPath, torn.toPath,
                  java.nio.file.StandardCopyOption.ATOMIC_MOVE)
                try {
                  graft.sources.NioControl.move(staging.toPath, root.toPath,
                    java.nio.file.StandardCopyOption.ATOMIC_MOVE)
                  true
                } catch {
                  case _: java.io.IOException =>
                    // the torn root is now OUT OF THE WAY (the publish
                    // path is vacant), so a transient failure on the
                    // publish leg gets one retry before this heal gives
                    // up and discards a COMPLETE rebuild — without it a
                    // single EINTR-class hiccup here deleted both the
                    // torn tree and the fresh staging and left the keyed
                    // root ABSENT
                    try {
                      graft.sources.NioControl.move(staging.toPath,
                        root.toPath,
                        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
                      true
                    } catch {
                      case e2: java.io.IOException =>
                        // persistent failure: put the torn tree BACK at
                        // the root before giving up, so the pre-heal
                        // state (torn but present, heal retried by the
                        // next builder) is preserved instead of leaving
                        // the keyed root absent with both trees deleted
                        try graft.sources.NioControl.move(torn.toPath,
                          root.toPath,
                          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
                        catch {
                          case _: java.io.IOException =>
                            // even the restore failed: the torn tree is
                            // the only surviving state — the finally
                            // below must NOT delete it
                            tornRestoreFailed = true
                            System.err.println(s"bandIndexFor: WARNING " +
                              s"the heal's publish AND the torn-tree " +
                              s"restore both failed — leaving $torn " +
                              "for the aged sweep")
                        }
                        throw e2
                    }
                }
              } catch { case _: java.io.IOException => false }
              finally {
                // destroy the moved-aside tree only if it really is torn
                // (meta unreadable — same probe as `present`, aimed at
                // the aside path): if the race above DID yank a healthy
                // artifact, keep its data and warn; the aged .torn-*
                // sweep reclaims it once no reader can hold it
                val tornHealthy = torn.exists() &&
                  (try { Dedup.bandIndexCovered(s, torn.toString); true }
                  catch { case _: org.apache.spark.sql.AnalysisException => false })
                if (tornHealthy)
                  System.err.println(s"bandIndexFor: WARNING moved aside " +
                    s"a HEALTHY artifact during torn-root heal ($torn) — " +
                    "a concurrent heal raced the probe; keeping its data " +
                    "for the aged sweep")
                else if (!tornRestoreFailed)
                  // guarded: an exception from a finally would REPLACE
                  // the heal's own outcome/diagnostic (and Files.walk
                  // surfaces read faults as UncheckedIOException, which
                  // a bare IOException catch would miss)
                  try deleteTree(torn.toString)
                  catch {
                    case scala.util.control.NonFatal(e) =>
                      System.err.println(s"bandIndexFor: WARNING could " +
                        s"not delete the torn tree $torn ($e) — left " +
                        "for the aged sweep")
                  }
              }
            }
            if (!healed) {
              // a concurrent builder/healer raced us between the two
              // moves — use whatever it published, or fail loudly. The
              // staging delete is guarded: on a device failing renames
              // it may fail too, and its IOException must not mask the
              // require's diagnostic (unswept staging is reclaimed by
              // the aged .build-* sweep above)
              // NonFatal, not just IOException: Files.walk surfaces
              // read faults as UncheckedIOException
              try deleteTree(staging.toString)
              catch {
                case scala.util.control.NonFatal(e) =>
                  System.err.println(s"bandIndexFor: WARNING could not " +
                    s"delete staging $staging after a failed heal ($e) " +
                    "— left for the aged sweep")
              }
              require(present,
                s"band-index artifact $root neither renameable nor readable")
            }
          }
      }
    }
    root.toString
  }

  private def deleteTree(path: String): Unit = {
    import java.nio.file.{Files, Paths}
    val p0 = Paths.get(path)
    if (Files.exists(p0)) {
      val it = Files.walk(p0)
      try it.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      finally it.close()
    }
  }

  /** Hardlink clone of a band-index artifact tree. The artifact is
    * APPEND-ONLY (maintenance adds batch directories, base files are
    * only read), so hardlinks are safe and the clone is O(#files) — the
    * point: [[IncrementalPipeline.publishDay]] appends a batch to the
    * index it is given, which must not leak into the next invocation's
    * pristine base.
    */
  private def cloneTree(src: String, dst: String): Unit = {
    import java.nio.file.{Files, Paths}
    val s0 = Paths.get(src)
    val d0 = Paths.get(dst)
    val it = Files.walk(s0)
    try it.forEach { p =>
      val t = d0.resolve(s0.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else
        try Files.createLink(t, p)
        catch { // cross-device artifact dir: plain copy
          case _: UnsupportedOperationException |
               _: java.nio.file.FileSystemException =>
            Files.copy(p, t)
        }
    } finally it.close()
  }

  // ----------------------------------------------------------------- i08

  /** i08: the COMPOSED incremental pipeline under the oracle's hard
    * signal — [[graft.IncrementalPipeline.bootstrap]] (publish corpus v1,
    * build its band index, freeze BM25 serving stats) followed by one
    * [[graft.IncrementalPipeline.publishDay]] over a deterministic
    * changelog (the q45 change-feed discipline, modular predicates on
    * driver data): updates on `doc_id % 17 = 0` (text + " v2"), deletes
    * on `% 19 = 0` (seq 2, winning the % 323 overlap by latest-wins),
    * and adds that are EXACTLY i03's delta (`% 13 = 0`, re-keyed
    * negative, near-dup or fresh text) so the screen leg of the oracle
    * is i03's SQL verbatim ([[screenCtes]]).
    *
    * The emitted 1-row summary pins every lane of the composition law
    * IncrementalPipelineSpec proves in-process: corpus size and an
    * order-independent full-content checksum (md5-slice mod 2^62 —
    * int64-safe in any transport) of the PUBLISHED v2 snapshot,
    * accepted/screened-out counts from the band-index screen, and
    * `sum_dl`/per-term dfs read back from the MAINTAINED stats store
    * (the delta fold), which the oracle restates as a from-scratch
    * recount over its replayed final corpus.
    *
    * Pipeline state lives in a per-invocation temp root, deleted in a
    * `finally` after the summary row is collected (the counts and
    * checksum are eager, so nothing lazy outlives the artifacts). Day 0
    * reuses the shared per-store base index (hardlink-cloned, see the
    * inline comment) — production builds the index once per snapshot and
    * then runs days (BenchDelta's table); corpus publish and the stats
    * freeze stay inline (subsecond).
    */
  val pipelineDay: QueryDef = q(
    "i08_pipeline_day",
    s"""WITH ${screenCtes(mat = true)},
       |touched AS (SELECT doc_id FROM documents
       |            WHERE doc_id % 17 = 0 OR doc_id % 19 = 0),
       |fin AS (
       |  SELECT c.doc_id, c.text FROM corpus c
       |  WHERE NOT EXISTS (SELECT 1 FROM touched t WHERE t.doc_id = c.doc_id)
       |  UNION ALL
       |  SELECT doc_id, text || ' v2' FROM documents
       |  WHERE doc_id % 17 = 0 AND doc_id % 19 <> 0
       |  UNION ALL
       |  SELECT doc_id, text FROM surv)
       |SELECT CAST(count(*) AS BIGINT) AS n_corpus,
       |       (SELECT count(*) FROM surv) AS n_accepted,
       |       (SELECT count(*) FROM delta) - (SELECT count(*) FROM surv)
       |         AS n_screened_out,
       |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_dl,
       |       CAST(sum(CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
       |           || ':' || text), 1, 12) AS BIGINT) AS DECIMAL(38,0)))
       |         % 4611686018427387904 AS BIGINT) AS corpus_checksum,
       |       CAST(count(CASE WHEN list_contains(string_split(text, ' '), 'dup')
       |           THEN 1 END) AS BIGINT) AS df_dup,
       |       CAST(count(CASE WHEN list_contains(string_split(text, ' '), 'key')
       |           THEN 1 END) AS BIGINT) AS df_key,
       |       CAST(count(CASE WHEN list_contains(string_split(text, ' '), 'spark')
       |           THEN 1 END) AS BIGINT) AS df_spark,
       |       CAST(count(CASE WHEN list_contains(string_split(text, ' '), 'batch')
       |           THEN 1 END) AS BIGINT) AS df_batch
       |FROM fin""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val upd = docs.filter(col("doc_id") % 17 === 0)
      .select(col("doc_id"), lit(1).as("seq"), lit("U").as("op"),
        concat(col("text"), lit(" v2")).as("text"))
    val del = docs.filter(col("doc_id") % 19 === 0)
      .select(col("doc_id"), lit(2).as("seq"), lit("D").as("op"),
        lit("").as("text"))
    val add = docs.filter(col("doc_id") % 13 === 0)
      .select((-col("doc_id") - 1).as("doc_id"), lit(1).as("seq"),
        lit("I").as("op"),
        when(col("doc_id") % 26 === 0,
          concat(lit("entirely fresh content row "),
            col("doc_id").cast("string")))
          .otherwise(concat(col("text"), lit(" appended"))).as("text"))
    val root = java.nio.file.Files.createTempDirectory("graft-i08").toString
    try {
      val (storeRoot, idxRoot, statsRoot, logDir) =
        (s"$root/corpus", s"$root/bandidx", s"$root/stats", s"$root/log")
      // day 0 without re-paying the index build per invocation: corpus v1
      // publish and the stats freeze are subsecond, but bootstrap's
      // writeBandIndex scales with the corpus — production pays it ONCE
      // per snapshot, so the gated query mirrors that via the shared
      // per-store artifact (the i07 discipline), hardlink-cloned because
      // publishDay appends a batch to the index it is given. bootstrap
      // itself (incl. its inline index build) stays spec-pinned in
      // IncrementalPipelineSpec.
      //
      // The four day-0 setup legs are mutually independent (disjoint
      // roots: log dir, corpus store, index clone, stats store) and each
      // was a driver-sequential barrier — overlapped per guide §2.6 so
      // one leg's task tail back-fills with the next leg's tasks.
      val base = Tables.parallel(docs)
      graft.Par.all[Unit](
        () => upd.unionByName(del).unionByName(add).write.parquet(logDir),
        () => require(
          graft.sources.VersionedStore.publish(base, storeRoot) == 1),
        () => cloneTree(bandIndexFor(s, d, covered = 1), idxRoot),
        () => { graft.IncrementalPipeline.publishStats(s, statsRoot,
          Retrieval.bm25StatsOf(base), covered = 1); () })
      val day = graft.IncrementalPipeline.publishDay(
        s, storeRoot, idxRoot, statsRoot, logDir)
      // stats come from the MAINTAINED store (bm25StatsDelta fold), not a
      // recount — that is the lane the oracle's from-scratch recount gates.
      // dfs order = Retrieval.queryTerms = (dup, key, spark, batch).
      // Both post-day reads are over published (immutable) versions —
      // independent, overlapped.
      val (stats, ck) = graft.Par.both(
        () => graft.IncrementalPipeline.loadStats(s, statsRoot),
        () => graft.sources.VersionedStore.read(s, storeRoot)
          .agg((sum(conv(substring(md5(concat(col("doc_id").cast("string"),
            lit(":"), col("text"))), 1, 12), 16, 10).cast("decimal(38,0)"))
            % lit(4611686018427387904L)).cast("long")).head().getLong(0))
      s.range(1).select(
        lit(day.nCorpus).as("n_corpus"),
        lit(day.nAccepted).as("n_accepted"),
        lit(day.nScreenedOut).as("n_screened_out"),
        lit(stats._2).as("sum_dl"),
        lit(ck).as("corpus_checksum"),
        lit(stats._3(0)).as("df_dup"), lit(stats._3(1)).as("df_key"),
        lit(stats._3(2)).as("df_spark"), lit(stats._3(3)).as("df_batch"))
    } finally {
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  // ----------------------------------------------------------------- i04

  /** i04: late-data reconciliation — which DAY partitions does late data
    * dirty, and by how much? Events with `event_id % 97 = 0` arrived
    * after their day's aggregate was published; the query emits, for
    * dirty days only, the published vs corrected count and exact decimal
    * sum. This is the incremental-recompute planner: a 100 TB pipeline
    * reads this table and re-materializes ONLY the listed partitions
    * instead of re-running the world.
    *
    * Scale shape: one events scan, day-keyed conditional aggregation
    * (map-side combined — `count_if`/filtered sums fold in the partial),
    * then a row-local dirty filter. No join, no second pass; output is
    * |dirty days|, not |events|.
    */
  val lateReconcile: QueryDef = q(
    "i04_late_reconcile",
    s"""WITH e AS (SELECT epoch_ns(ts) // 86400000000000 AS day,
       |             event_id % 97 = 0 AS late, value
       |           FROM events)
       |SELECT day,
       |  count(*) FILTER (WHERE late) AS n_late,
       |  count(*) FILTER (WHERE NOT late) AS n_published,
       |  count(*) AS n_corrected,
       |  ${Compat.sumDoubleSql("CASE WHEN NOT late THEN CAST(value AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END")} AS sum_published,
       |  ${Compat.sumDoubleSql("CAST(value AS DECIMAL(12,2))")} AS sum_corrected
       |FROM e GROUP BY day
       |HAVING count(*) FILTER (WHERE late) > 0
       |ORDER BY day""".stripMargin) { (s, d) =>
    val zero = lit(0).cast(org.apache.spark.sql.types.DecimalType(12, 2))
    Tables.events(s, d)
      .select(expr("ts div 86400000000000").as("day"),
        (col("event_id") % 97 === 0).as("late"), col("value"))
      .groupBy(col("day"))
      .agg(
        count_if(col("late")).as("n_late"),
        count_if(!col("late")).as("n_published"),
        count(lit(1)).as("n_corrected"),
        sum(when(!col("late"), Compat.money(col("value"))).otherwise(zero))
          .cast("double").as("sum_published"),
        sum(Compat.money(col("value"))).cast("double").as("sum_corrected"))
      .filter(col("n_late") > 0)
      .orderBy("day")
  }

  // ----------------------------------------------------------------- i05

  /** i05: expectation audit — the constraint suite a pipeline runs before
    * PUBLISHING a snapshot (and before any incremental merge is allowed
    * to land): null/shape checks on documents and events, domain checks
    * on lineitem, referential integrity on the two FK edges. One row per
    * (table, check) with total and violating counts — all-zero
    * violations is the publish gate.
    *
    * Scale shape: every non-FK check rides ONE conditional-aggregate scan
    * of its table (map-side combined, no shuffle beyond the 1-row final);
    * the FK checks are the honest cost — orders⋈customer and
    * lineitem⋈orders null-probe joins on their natural keys, exactly the
    * co-partitioned (or bucketed-store, shuffle-free) joins the engine's
    * relational lanes already run. Nothing quadratic, nothing collected.
    */
  val expectationAudit: QueryDef = q(
    "i05_expectation_audit",
    """WITH doc AS (
      |  SELECT count(*) AS n,
      |    count(*) FILTER (WHERE text IS NULL OR text = '') AS text_empty,
      |    count(*) FILTER (WHERE text IS NOT NULL AND n_chars <> length(text)) AS nchars_mismatch,
      |    count(*) FILTER (WHERE lang IS NULL OR length(lang) <> 2) AS lang_invalid
      |  FROM documents),
      |ev AS (
      |  SELECT count(*) AS n,
      |    count(*) FILTER (WHERE value IS NULL) AS value_null,
      |    count(*) FILTER (WHERE epoch_ns(ts) < 0
      |                        OR epoch_ns(ts) >= 4102444800000000000) AS ts_range
      |  FROM events),
      |li AS (
      |  SELECT count(*) AS n,
      |    count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50) AS qty_range
      |  FROM lineitem),
      |ordfk AS (
      |  SELECT count(*) AS n,
      |    count(*) FILTER (WHERE c.c_custkey IS NULL) AS orphans
      |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey),
      |lifk AS (
      |  SELECT count(*) AS n,
      |    count(*) FILTER (WHERE o.o_orderkey IS NULL) AS orphans
      |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey)
      |SELECT * FROM (
      |  SELECT 'documents' AS tbl, 'text_nonempty' AS chk, n AS n_rows, text_empty AS n_violations FROM doc
      |  UNION ALL SELECT 'documents', 'n_chars_matches_text', n, nchars_mismatch FROM doc
      |  UNION ALL SELECT 'documents', 'lang_is_iso2', n, lang_invalid FROM doc
      |  UNION ALL SELECT 'events', 'value_not_null', n, value_null FROM ev
      |  UNION ALL SELECT 'events', 'ts_in_range', n, ts_range FROM ev
      |  UNION ALL SELECT 'lineitem', 'quantity_1_to_50', n, qty_range FROM li
      |  UNION ALL SELECT 'orders', 'custkey_fk', n, orphans FROM ordfk
      |  UNION ALL SELECT 'lineitem', 'orderkey_fk', n, orphans FROM lifk)
      |ORDER BY tbl, chk""".stripMargin) { (s, d) =>
    def unpivot(agg: DataFrame, tbl: String, checks: (String, String)*): DataFrame =
      checks.map { case (chk, vcol) =>
        agg.select(lit(tbl).as("tbl"), lit(chk).as("chk"),
          col("n").as("n_rows"), col(vcol).as("n_violations"))
      }.reduce(_.union(_))

    val doc = Tables.documents(s, d).agg(
      count(lit(1)).as("n"),
      count_if(col("text").isNull || col("text") === "").as("text_empty"),
      count_if(col("text").isNotNull &&
        col("n_chars") =!= length(col("text"))).as("nchars_mismatch"),
      count_if(col("lang").isNull || length(col("lang")) =!= 2).as("lang_invalid"))
    val ev = Tables.events(s, d).agg(
      count(lit(1)).as("n"),
      count_if(col("value").isNull).as("value_null"),
      count_if(col("ts") < 0 ||
        col("ts") >= 4102444800000000000L).as("ts_range"))
    val li = Tables.lineitem(s, d).agg(
      count(lit(1)).as("n"),
      count_if(col("l_quantity") < 1 || col("l_quantity") > 50).as("qty_range"))
    val ordfk = Tables.orders(s, d)
      .join(Tables.customer(s, d).select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left")
      .agg(count(lit(1)).as("n"), count_if(col("c_custkey").isNull).as("orphans"))
    val lifk = Tables.lineitem(s, d).select(col("l_orderkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left")
      .agg(count(lit(1)).as("n"), count_if(col("o_orderkey").isNull).as("orphans"))

    unpivot(doc, "documents",
      "text_nonempty" -> "text_empty",
      "n_chars_matches_text" -> "nchars_mismatch",
      "lang_is_iso2" -> "lang_invalid")
      .union(unpivot(ev, "events",
        "value_not_null" -> "value_null", "ts_in_range" -> "ts_range"))
      .union(unpivot(li, "lineitem", "quantity_1_to_50" -> "qty_range"))
      .union(unpivot(ordfk, "orders", "custkey_fk" -> "orphans"))
      .union(unpivot(lifk, "lineitem", "orderkey_fk" -> "orphans"))
      .orderBy("tbl", "chk")
  }

  def defs: Seq[QueryDef] =
    Seq(snapshotDiff, upsertMerge, deltaDedup, lateReconcile, expectationAudit,
      deltaDedupArtifact, pipelineDay)
}
