package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Caches, OracleContext, SparkEntry}
import graft.operators.Similarity
import graft.streaming.{StreamNearDedup, StreamingOps}

/** The benchmark's JVM side: runs one workload against the engine for a
  * fixed measuring time and writes every raw observation (op timings,
  * per-pass heap and store size, check failures, and with tracing on the
  * spans and Spark events) as one JSON file. `perfbench/run.py` turns
  * that file into the reported metrics.
  *
  * Usage: Harness <workload> <inputDir> <workDir> <seconds> <trace 0|1>
  *   <outFile>
  *
  * One client thread issues one call at a time. Everything that resets
  * state between passes, and every output check, runs outside the timed
  * region. */
object Harness {

  final case class OpRec(pass: Int, kind: String, name: String, start: Double,
      end: Double, ok: Boolean, err: String)

  /** Per-op bookkeeping shared by the workloads. */
  final class Ops(spans: Spans) {
    val recs = ArrayBuffer.empty[OpRec]
    def apply[T](pass: Int, kind: String, name: String)(body: => T): Option[T] = {
      // As graft.Bench does: memoized results never carry over between
      // timed ops.
      Caches.clearAll()
      spans.newOp()
      val t0 = Clock.ms
      try {
        val r = body
        recs += OpRec(pass, kind, name, t0, Clock.ms, ok = true, "")
        Some(r)
      } catch {
        case e: Throwable =>
          recs += OpRec(pass, kind, name, t0, Clock.ms, ok = false,
            s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          None
      }
    }
  }

  trait Workload {
    def setup(): Unit
    /** Untimed: gives the next pass fresh state. */
    def reset(pass: Int): Unit
    def run(pass: Int): Unit
    /** Untimed: (op name, reason) for every op whose output is wrong. */
    def check(pass: Int): Seq[(String, String)]
    /** Workload-specific extra observations for the JSON file. */
    def extra: String = "{}"
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 6, "usage: Harness <workload> <inputDir> <workDir> " +
      "<seconds> <trace 0|1> <outFile>")
    val Array(workload, input, work, secs, traceArg, out) = args
    val seconds = secs.toDouble
    val trace = traceArg == "1"
    val tSetup0 = Clock.ms
    val spark = session(work)
    val tSession = Clock.ms
    val rec = new Recorder(full = trace)
    // The streaming workloads need per-trigger progress even untraced:
    // trigger latency is what their client sees.
    if (trace || workload == "stream_ingest") spark.sparkContext.addSparkListener(rec)
    val spans = new Spans(trace)
    val ops = new Ops(spans)
    val w: Workload = workload match {
      case "batch_course" => new BatchCourse(spark, input, work, spans, ops)
      case "ann_mixed" => new AnnMixed(spark, input, spans, ops, trace)
      case "stream_ingest" => new StreamIngest(spark, input, spans, ops)
      case other => sys.error(s"unknown workload $other")
    }
    w.setup()
    val tFirstOp = Clock.ms

    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
    val passes = ArrayBuffer.empty[String]
    val failures = ArrayBuffer.empty[String]
    var timed = 0.0
    var pass = 0
    while (pass == 0 || timed < seconds * 1000) {
      w.reset(pass)
      System.gc()
      val gc0 = gcMs
      val p0 = Clock.ms
      spans("pass")(w.run(pass))
      val p1 = Clock.ms
      val gc1 = gcMs
      timed += p1 - p0
      // Every event of the pass reaches the Recorder before it is read.
      ListenerBusDrain(spark.sparkContext)
      val heap = liveHeap()
      w.check(pass).foreach { case (name, why) =>
        failures += s"""{"pass":$pass,"op":${Json.str(name)},"why":${Json.str(why.take(400))}}"""
      }
      passes += s"""{"pass":$pass,"start":$p0,"end":$p1,"gc_ms":${gc1 - gc0},""" +
        s""""heap_bytes":$heap}"""
      pass += 1
    }
    val fns = if (trace) new FunctionProbes(spark, input, workload).run() else "{}"
    val opsJson = ops.recs.map { r =>
      s"""{"pass":${r.pass},"kind":${Json.str(r.kind)},"name":${Json.str(r.name)},""" +
        s""""start":${r.start},"end":${r.end},"ok":${r.ok},"err":${Json.str(r.err)}}"""
    }.mkString("[", ",", "]")
    val body =
      s"""{"workload":${Json.str(workload)},"trace":$trace,""" +
        s""""setup":{"start":$tSetup0,"session":$tSession,"first_op":$tFirstOp},""" +
        s""""passes":${passes.mkString("[", ",", "]")},"ops":$opsJson,""" +
        s""""failures":${failures.mkString("[", ",", "]")},""" +
        s""""extra":${w.extra},"functions":$fns,""" +
        s""""spans":${spans.json},"events":${rec.json}}"""
    Files.writeString(Paths.get(out), body)
    spark.stop()
  }

  /** JVM heap in use after a full GC. Spark releases broadcast and
    * shuffle state asynchronously (ContextCleaner), so the lowest of a
    * few GC-and-settle readings is the live set. */
  def liveHeap(): Long = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(150)
      mem.getHeapMemoryUsage.getUsed
    }.min
  }

  /** The session every run uses: graft.Bench's configuration, with all
    * of Spark's scratch space under the run's work dir. */
  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p)) { s =>
      s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    }

  /** Bytes of the regular files under `p` modified at or after `sinceMs`. */
  def bytesWrittenSince(p: Path, sinceMs: Double): Long =
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p)) { s =>
      s.iterator().asScala.filter(Files.isRegularFile(_))
        .filter(f => Files.getLastModifiedTime(f).toMillis >= sinceMs.toLong - 1)
        .map(Files.size).sum
    }

  def deleteDir(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path)) StreamingOps.deleteRecursively(path)
  }

  /** Order-insensitive fingerprint of collected rows. */
  def rowsDigest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toSeq.map(String.valueOf).mkString("\u001f")).sorted
      .foreach(r => md.update((r + "\u001e").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** Loads the classes every run needs (session start-up, a scan, a
  * shuffle and an aggregate) so the build can dump them into a class
  * data sharing archive: the runs then start their session in about a
  * third of the time. Usage: CdsWarmup <workDir> */
object CdsWarmup {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val spark = Harness.session(work)
    spark.range(1 << 16).selectExpr("id % 7 AS k", "id").write.parquet(s"$work/t")
    spark.read.parquet(s"$work/t").groupBy("k").count().collect()
    spark.stop()
  }
}

/** batch_course: the reference's own use, input to complete result, one
  * program after another over one generated input dir. */
final class BatchCourse(spark: SparkSession, input: String, work: String,
    spans: Spans, ops: Harness.Ops) extends Harness.Workload {

  // The program list is part of the generated input (perfbench/gen.py).
  val programs: Seq[String] = Files.readAllLines(Paths.get(s"$input/programs.txt"))
    .asScala.toSeq.map(_.trim).filter(_.nonEmpty)

  private val defs = SparkEntry.modules.flatMap(_.entries).map(q => q.name -> q).toMap
  private val results = scala.collection.mutable.Map.empty[String,
    (Array[Row], org.apache.spark.sql.types.StructType)]
  private val firstDigest = scala.collection.mutable.Map.empty[String, String]

  def setup(): Unit = {
    val missing = programs.filterNot(defs.contains)
    require(missing.isEmpty, s"programs not registered: ${missing.mkString(", ")}")
    // Session warm-up as graft.Bench does it (executor threads, the
    // scan+shuffle+aggregate skeleton's codegen, the parquet footer
    // reader); each program's own first-run cost stays in the pass, as
    // it does for a user running a batch program once.
    spark.read.parquet(s"$input/nation.parquet").groupBy("n_regionkey").count().collect()
    spark.range(1 << 20).selectExpr("sum(id)").collect()
    // Generated oracles (spam_train's replay) render against this
    // input dir, as they do inside a Verify run.
    OracleContext.configure(spark, input)
  }

  /** Untimed: the DuckDB oracle SQL of each program in the pass, for
    * the comparison in run.py. Only these programs' generators run. */
  private def writeOracles(): Unit = {
    val oracles = programs.map(p => p -> defs(p).oracle.orElse(defs(p).oracleGen.map(_())))
    val missing = oracles.collect { case (p, None) => p }
    require(missing.isEmpty, s"programs without an oracle: ${missing.mkString(", ")}")
    Files.writeString(Paths.get(s"$work/oracle_sql.json"), oracles.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v.get)}" }.mkString("{", ",", "}"))
  }

  def reset(pass: Int): Unit = results.clear()

  def run(pass: Int): Unit = programs.foreach { p =>
    ops(pass, "program", p) {
      spans(s"operators.$p") {
        val df = defs(p).fn(spark, input)
        results(p) = (df.collect(), df.schema)
      }
    }
    ()
  }

  /** Pass 0 is compared with the oracles (in run.py, through DuckDB);
    * every later pass must return pass 0's rows. */
  def check(pass: Int): Seq[(String, String)] = {
    if (pass == 0) writeOracles()
    programs.flatMap(p => checkProgram(pass, p))
  }

  private def checkProgram(pass: Int, p: String): Option[(String, String)] =
    results.get(p).flatMap { case (rows, schema) =>
      val d = Harness.rowsDigest(rows)
      if (pass == 0) {
        firstDigest(p) = d
        // Spark's rows for the oracle comparison in run.py.
        spark.createDataFrame(rows.toSeq.asJava, schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$work/results/$p")
        None
      } else if (firstDigest.get(p).contains(d)) None
      else Some(p -> s"pass $pass rows differ from pass 0")
    }
}

/** ann_mixed: the persisted ANN index as a read-mostly store. Each pass
  * replays the generated op list against a fresh copy of the built
  * index: reads with one write per few reads and a compaction after
  * every few writes. */
final class AnnMixed(spark: SparkSession, input: String, spans: Spans,
    ops: Harness.Ops, trace: Boolean) extends Harness.Workload {

  private val base0 = s"${graft.Scratch.root}/ann_base"
  private def passDir(p: Int) = s"${graft.Scratch.root}/ann_pass_$p"
  private lazy val initial = spark.read.parquet(s"$input/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))
  private lazy val fresh = spark.read.parquet(s"$input/ann_new.parquet")
    .select(col("vec_id"), col("embedding"))
  private lazy val initialIds = initial.select("vec_id").collect().map(_.getLong(0)).toSet
  private val schedule: Seq[(String, Seq[Long])] =
    Files.readAllLines(Paths.get(s"$input/ops.txt")).asScala.toSeq
      .filter(_.trim.nonEmpty).map { l =>
        val parts = l.trim.split(" ")
        parts.head -> parts.tail.toSeq.map(_.toLong)
      }
  // Per pass: ids upserted/deleted in schedule order, and every id a
  // read returned while it was deleted.
  private var upserted = Set.empty[Long]
  private var deleted = Set.empty[Long]
  private val badReads = ArrayBuffer.empty[String]
  private val readInfo = ArrayBuffer.empty[String]
  private val writeInfo = ArrayBuffer.empty[String]
  private val storeBytes = ArrayBuffer.empty[Long]

  private def live: DataFrame =
    if (upserted.isEmpty) initial
    else initial.unionByName(fresh.filter(col("vec_id").isin(upserted.toSeq: _*)))

  /** Committed deltas not yet folded by a compaction, from the index's
    * on-disk commit markers and MANIFEST pointer. */
  private def pendingDeltas(dir: String): Int = {
    val m = Paths.get(dir, "MANIFEST")
    val folded = if (Files.exists(m)) Files.readString(m).trim.split("\\s+")(1).toLong else 0L
    Option(new java.io.File(s"$dir/commits").listFiles()).getOrElse(Array.empty)
      .flatMap(_.getName.toLongOption).count(_ > folded)
  }

  def setup(): Unit = {
    // The build is the warm-up too: it runs the normalize, train,
    // encode and partitioned-write paths every later op reuses.
    spans("Similarity.index.build")(Similarity.buildIndexAt(spark, initial, base0))
  }

  def reset(pass: Int): Unit = {
    if (pass > 0) Harness.deleteDir(passDir(pass - 1))
    Similarity.copyDir(base0, passDir(pass))
    upserted = Set.empty
    deleted = Set.empty
  }

  def run(pass: Int): Unit = {
    val dir = passDir(pass)
    var prevWrite = false
    schedule.foreach { case (kind, ids) =>
      val t0 = Clock.ms
      val pending = if (trace && kind == "read") pendingDeltas(dir) else 0
      kind match {
        case "read" =>
          val corpus = live
          val r = ops(pass, "read", "read") {
            spans("Similarity.read")(Similarity.serveFromIndex(spark, dir, corpus).collect())
          }
          r.foreach { rows =>
            val got = rows.map(_.getAs[Long]("vec_id")).toSet
            val bad = got.intersect(deleted)
            if (bad.nonEmpty) badReads += s"pass $pass read returned deleted ids ${bad.take(5)}"
          }
          readInfo += s"""{"pass":$pass,"after_write":$prevWrite,"pending":$pending}"""
          prevWrite = false
        case "upsert" =>
          ops(pass, "upsert", "upsert") {
            spans("Similarity.index.upsert")(Similarity.annIndexUpsert(spark, dir,
              fresh.filter(col("vec_id").isin(ids: _*))))
          }
          upserted ++= ids
          prevWrite = true
        case "delete" =>
          ops(pass, "delete", "delete") {
            spans("Similarity.index.delete")(Similarity.annIndexDelete(spark, dir,
              spark.createDataFrame(ids.map(Tuple1(_))).toDF("vec_id")))
          }
          deleted ++= ids
          prevWrite = true
        case "compact" =>
          ops(pass, "compact", "compact") {
            spans("Similarity.index.compact")(Similarity.annIndexCompact(spark, dir))
          }
          prevWrite = true
      }
      if (trace && kind != "read")
        writeInfo += s"""{"pass":$pass,"kind":"$kind","bytes":""" +
          s"""${Harness.bytesWrittenSince(Paths.get(dir), t0)}}"""
    }
  }

  def check(pass: Int): Seq[(String, String)] = {
    storeBytes += Harness.dirBytes(Paths.get(passDir(pass)))
    val visible = Similarity.readCodes(spark, passDir(pass)).select("vec_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val want = initialIds ++ upserted -- deleted
    val idSet =
      if (visible == want) Nil
      else Seq("visible_ids" -> (s"pass $pass: ${(want -- visible).size} ids missing, " +
        s"${(visible -- want).size} unexpected"))
    val reads = badReads.toSeq.map("read" -> _)
    badReads.clear()
    idSet ++ reads
  }

  override def extra: String =
    s"""{"reads":${readInfo.mkString("[", ",", "]")},""" +
      s""""writes":${writeInfo.mkString("[", ",", "]")},""" +
      s""""store_bytes":${storeBytes.mkString("[", ",", "]")}}"""
}

/** stream_ingest: a backlog of doc files through the paced near-dedup
  * admission accumulator, one file per trigger, then a caller
  * compaction of the admission state. */
final class StreamIngest(spark: SparkSession, input: String, spans: Spans,
    ops: Harness.Ops) extends Harness.Workload {

  private val backlog = s"$input/backlog"
  private val files = new java.io.File(backlog).listFiles().map(_.getPath)
    .filter(_.endsWith(".parquet")).sorted.toSeq
  private def root(p: Int) = s"${graft.Scratch.root}/stream_pass_$p"
  private def dirs(p: Int) = (s"${root(p)}/state", s"${root(p)}/ckpt")
  private val stateBytes = ArrayBuffer.empty[Long]
  private var want: Array[String] = Array.empty

  /** The admitted set from replaying the same file sequence through the
    * public per-batch step, [[StreamNearDedup.admitBatch]]. */
  private def replay(): Array[String] = {
    var state = StreamNearDedup.emptyState(spark)
    val adm = ArrayBuffer.empty[String]
    files.indices.foreach { k =>
      val batch = spark.read.parquet(files(k)).select(col("doc_id"), col("text"))
      val (a, keys) = StreamNearDedup.admitBatch(spark, batch, state)
      adm ++= a.select("doc_id").collect().map(r => s"${r.getLong(0)}|$k")
      state = state.union(keys).localCheckpoint()
    }
    adm.sorted.toArray
  }

  def setup(): Unit = {
    require(files.size >= StreamNearDedup.MEM_FOLD_EVERY,
      s"backlog has ${files.size} files, need ${StreamNearDedup.MEM_FOLD_EVERY}")
    // The replay doubles as the warm-up: it runs the per-batch dataflow
    // the accumulator runs.
    want = replay()
  }

  def reset(pass: Int): Unit = if (pass > 0) Harness.deleteDir(root(pass - 1))

  def run(pass: Int): Unit = {
    val (state, ckpt) = dirs(pass)
    ops(pass, "stream", "neardedup") {
      spans("streaming.neardedup")(
        StreamNearDedup.runLiveAgainst(spark, backlog, paced = true, ckpt, state))
    }
    ops(pass, "compact", "compactState") {
      spans("StreamNearDedup.state.compact")(StreamNearDedup.compactState(spark, state))
    }
    ()
  }

  def check(pass: Int): Seq[(String, String)] = {
    val (state, _) = dirs(pass)
    stateBytes += Harness.dirBytes(Paths.get(state))
    val got = StreamNearDedup.readAdmitted(spark, state).select("doc_id", "batch_id")
      .collect().map(r => s"${r.getLong(0)}|${r.getLong(1)}").sorted
    if (got.sameElements(want)) Nil
    else Seq("neardedup" -> (s"pass $pass: ${got.diff(want).length} unexpected, " +
      s"${want.diff(got).length} missing; e.g. ${got.diff(want).take(3).mkString(",")}"))
  }

  override def extra: String =
    s"""{"docs":${files.map(f => spark.read.parquet(f).count()).sum},""" +
      s""""state_bytes":${stateBytes.mkString("[", ",", "]")}}"""
}
