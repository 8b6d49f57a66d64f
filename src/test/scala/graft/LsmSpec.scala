package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.Similarity
import graft.storage.Lsm
import graft.streaming.{StreamKeepBest, StreamingOps}
import org.apache.spark.sql.functions._

/** The shared storage protocol ([[Lsm]]) and its three users: the ANN
  * index, the near-dedup state and the keep-best state. Each case pins
  * a rule the two former hand-kept copies disagreed on, or a path only
  * the shared module reaches. */
class LsmSpec extends SparkSpecBase {
  import spark.implicits._

  private def withDir(tag: String)(body: Path => Unit): Unit = {
    val d = Files.createTempDirectory(s"graft_lsm_${tag}_")
    try body(d) finally StreamingOps.deleteRecursively(d)
  }

  private def manifest(d: Path): String = Files.readString(d.resolve("MANIFEST")).trim

  /** A fold whose staging just creates the destination directory,
    * recording what each table was asked to hold. */
  private def fold(dir: Path, layout: Lsm.Layout): Seq[(String, Lsm.State)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Lsm.State)]
    Lsm.fold(dir.toString, layout) { (table, dest, scope) =>
      Files.createDirectories(Paths.get(dest))
      seen.add(table -> scope)
    }
    seen.asScala.toSeq.sortBy(_._1)
  }

  test("no MANIFEST: a fold starts at the first id, for first-id 0 and first-id 1 layouts") {
    for (first <- Seq(0L, 1L)) withDir(s"first$first") { d =>
      val layout = Lsm.Layout(first, Seq("a", "b"), (t, k) => s"$t/id=$k")
      assert(Lsm.state(d.toString, layout) == Lsm.State(0, first - 1, Nil))
      Lsm.commit(d.toString, first)
      assert(Lsm.state(d.toString, layout) == Lsm.State(0, first - 1, Seq(first)))
      val staged = fold(d, layout)
      assert(staged == Seq("a", "b").map(_ -> Lsm.State(0, first - 1, Seq(first))),
        s"first id $first: the fold must stage exactly delta $first")
      assert(manifest(d) == s"1 $first")
      assert(Lsm.state(d.toString, layout) == Lsm.State(1, first, Nil))
      assert(fold(d, layout).isEmpty, "nothing pending: a second fold is a no-op")
    }
  }

  private lazy val raw = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("embedding"))

  private def visibleIds(idx: String): Set[Long] = {
    val codes = Similarity.readCodes(spark, idx)
    val ids = codes.select(col("vec_id")).distinct().as[Long].collect().toSet
    assert(codes.count() == ids.size.toLong * Similarity.PQ_M,
      "a vector is read with more or fewer than M code rows")
    ids
  }

  private def idsOf(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select(col("vec_id")).as[Long].collect().toSet

  test("index layout: a gap in the committed ids stops the fold; the replayed delta stays visible") {
    withDir("gap") { d =>
      val idx = d.toString
      val base = raw.filter(col("vec_id") % 4 === 0)
      val slices = (1 to 3).map(r => raw.filter(col("vec_id") % 4 === r))
      Similarity.buildIndexAt(spark, base, idx, withResiduals = false)
      slices.foreach(Similarity.annIndexUpsert(spark, idx, _))
      // Delta 2 loses its marker: a delta written but not (yet)
      // committed, whose replay will land the marker later.
      Files.delete(d.resolve("commits").resolve("2"))
      Similarity.annIndexCompact(spark, idx)
      assert(manifest(d) == "1 1", "the fold must stop at the gap before delta 2")
      assert(visibleIds(idx) == idsOf(base) ++ idsOf(slices(0)) ++ idsOf(slices(2)))
      // The replay lands the marker: delta 2 must become visible, which
      // a fold that had swallowed id 2 into foldedUpTo would forbid.
      Lsm.commit(idx, 2)
      assert(visibleIds(idx) == idsOf(raw))
      Similarity.annIndexCompact(spark, idx)
      assert(manifest(d) == "2 3")
      assert(visibleIds(idx) == idsOf(raw))
    }
  }

  test("GC never touches a table outside the fold set (keep-best events)") {
    withDir("kb") { d =>
      val acc = new StreamKeepBest.PersistentKeepBest(spark, d.toString, foldEvery = 0)
      val batches = Seq(
        Seq((10L, "the quick brown fox jumps over the lazy dog again and again today")),
        Seq((20L, "the quick brown fox jumps over the lazy dog again and again today!!"),
          (21L, "completely different words about spark clusters shuffling parquet")))
      batches.zipWithIndex.foreach { case (b, k) =>
        acc.onBatch(b.toDF("doc_id", "text"), k.toLong) }
      def events = StreamKeepBest.readEvents(spark, d.toString)
        .select("doc_id", "comp", "quality", "action", "batch_id")
        .as[(Long, Long, Double, String, Long)].collect().toSet
      val before = events
      StreamKeepBest.compactBands(spark, d.toString)
      // The second call's entry sweep reclaims what the first folded.
      StreamKeepBest.compactBands(spark, d.toString)
      assert(manifest(d) == "1 1")
      Seq(0, 1).foreach { k =>
        assert(!Files.exists(d.resolve(s"bands/batch_id=$k")),
          s"folded band delta $k must be swept")
        assert(Files.exists(d.resolve(s"events/batch_id=$k")),
          s"the sweep deleted event delta $k, a table outside the fold set")
      }
      assert(events == before)
    }
  }

  test("annIndexCompact on a trailing-slash base keeps every vector") {
    withDir("slash") { d =>
      val idx = d.toString
      val base = raw.filter(col("vec_id") % 2 === 0)
      val delta = raw.filter(col("vec_id") % 2 === 1)
      Similarity.buildIndexAt(spark, base, idx)
      Similarity.annIndexUpsert(spark, idx, delta)
      val slashed = idx + "/"
      Similarity.annIndexCompact(spark, slashed)
      Similarity.annIndexCompact(spark, slashed)
      assert(Files.exists(d.resolve("codes-g1")) && Files.exists(d.resolve("rcodes-g1")),
        "live generation swept under a trailing-slash base")
      Seq(idx, slashed).foreach(b => assert(visibleIds(b) == idsOf(raw)))
      assert(idsOf(Similarity.readCodes(spark, idx, "rcodes").select("vec_id").distinct()) ==
        idsOf(raw))
    }
  }

  test("a missing live generation fails the read loudly instead of serving only the deltas") {
    withDir("loud") { d =>
      val idx = d.toString
      Similarity.buildIndexAt(spark, raw.filter(col("vec_id") % 3 === 0), idx,
        withResiduals = false)
      Similarity.annIndexUpsert(spark, idx, raw.filter(col("vec_id") % 3 === 1))
      Similarity.annIndexCompact(spark, idx)
      Similarity.annIndexUpsert(spark, idx, raw.filter(col("vec_id") % 3 === 2))
      StreamingOps.deleteRecursively(d.resolve("codes-g1"))
      val e = intercept[IllegalArgumentException](Similarity.readCodes(spark, idx))
      assert(e.getMessage.contains(d.resolve("codes-g1").toString), e.getMessage)
    }
  }

  test("a rebuild that fails after overwriting its tables invalidates the assembled-read memo") {
    withDir("epoch") { d =>
      val idx = d.toString
      val slice = raw.filter(col("vec_id") < 200)
      Similarity.buildIndexAt(spark, slice, idx, withResiduals = false)
      assert(visibleIds(idx) == idsOf(slice))
      // An empty corpus trains, overwrites every table with zero rows,
      // then trips the build's empty-table check.
      val e = intercept[IllegalArgumentException](
        Similarity.buildIndexAt(spark, slice.limit(0), idx, withResiduals = false))
      assert(e.getMessage.contains("EMPTY"), e.getMessage)
      assert(!Files.exists(d.resolve("GEOMETRY")),
        "a failed build must not leave its build-complete marker")
      // The tables on disk now hold zero rows; the read must reassemble
      // from them, not serve the cached pre-rebuild file listing.
      assert(Similarity.readCodes(spark, idx).count() == 0)
    }
  }

  test("no program file but Lsm spells the protocol's file names") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: no $root")
    val own = root.resolve("graft/storage/Lsm.scala")
    val literals = Seq("\"MANIFEST\"", "\"MANIFEST.tmp\"", "\"commits\"")
    val offenders = scala.util.Using.resource(Files.walk(root))(_.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != own).toList)
      .flatMap { p =>
        val text = Files.readString(p)
        literals.filter(text.contains).map(l => s"$p: $l")
      }
    assert(offenders.isEmpty,
      s"a second copy of the storage protocol: ${offenders.mkString("; ")}")
  }
}
