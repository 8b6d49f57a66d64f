package graft.streaming

import graft.operators.Dedup
import graft.storage.Lsm
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Quality-aware streaming admission — the streaming form of
  * [[graft.operators.Dedup.dedupKeepBest]], closing the one
  * batch/stream asymmetry the first-touch filter
  * ([[StreamNearDedup]]) leaves open: there, a later (possibly
  * cleaner) capture of an already-admitted page is simply dropped;
  * here it CHALLENGES the cluster's current canonical and replaces it
  * when it scores higher on [[graft.operators.Pipeline.docQuality]]'s
  * quality heuristic — the "keep the best capture of a page crawled
  * five times" behaviour a production ingest pipeline wants without
  * re-clustering the corpus.
  *
  * Semantics (deterministic given the batch boundaries):
  *
  *   1. A doc whose LSH band keys collide with any existing cluster's
  *      accumulated band-key footprint becomes a CHALLENGER of that
  *      cluster (min cluster id if several collide). Per cluster and
  *      batch, the best of {incumbent canonical} ∪ {challengers} by
  *      (quality DESC, doc_id ASC) becomes the canonical — a winning
  *      challenger's action is `replace`, a losing one's `drop`.
  *   2. Docs colliding with no cluster form new clusters exactly like
  *      the first-touch filter (connected components over the
  *      intra-batch band-collision graph, cluster id = min member
  *      doc_id) but the admitted representative is the best-QUALITY
  *      member (action `new`), not the min-id one; its losing
  *      siblings get `drop`.
  *
  * Because the challenge rule is a running argmax under a total order
  * ((quality, doc_id) — ties impossible, ids are unique), the final
  * canonical of every cluster equals the batch [[Dedup.dedupKeepBest]]
  * argmax over the docs routed to it, whatever the batch boundaries —
  * while the per-doc `action` log preserves exactly WHEN each
  * replacement happened, which is what the paced oracle pins.
  *
  * State is two tables, both join-shaped (never collected, never
  * broadcast): `bands(band_idx, band_key, comp)` — the accumulated
  * band keys of every doc that ever held a canonical seat, tagged
  * with its cluster — and the per-cluster canonical `(comp, doc_id,
  * quality)`, consolidated in memory and derivable entirely from the
  * persisted event log (the winner row of a cluster's LATEST
  * committed batch). Persistence reuses [[StreamNearDedup]]'s
  * marker-committed per-batch parquet protocol verbatim: deltas go to
  * `bands/batch_id=K` and `events/batch_id=K` in overwrite mode, a
  * `commits/K` marker lands last, uncommitted partials are invisible
  * and clobbered on replay. At 100 TB the same swap applies — the
  * parquet pair becomes a transactional store keyed by
  * (band_idx, band_key) and by cluster id; the per-batch dataflow
  * below is unchanged.
  *
  * Compaction boundary: the `bands` table is STATE and folds via
  * [[compactBands]] ([[StreamNearDedup.compactState]]'s
  * generation-base fold, bands only); the `events` table is the job's
  * OUTPUT — the per-doc new/replace/drop audit the gate emits — so it
  * is deliberately never folded: collapsing it to per-cluster winners
  * would erase the replacement history a provenance pipeline exists
  * to keep. A long-lived deployment compacts bands and ships events
  * downstream like any append-only log.
  */
object StreamKeepBest {

  /** Empty band-key state: zero (band_idx, band_key, comp) rows. */
  def emptyBands(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Int, Long, Long)].toDF("band_idx", "band_key", "comp")
  }

  /** Empty canonical state: zero (comp, doc_id, quality) rows. */
  def emptyCanon(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Double)].toDF("comp", "doc_id", "quality")
  }

  /** Empty event log in its PERSISTED shape (batch_id included — the
    * partition-discovery column of the `events/batch_id=K` layout). */
  private def emptyEvents(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Double, String, Long)]
      .toDF("doc_id", "comp", "quality", "action", "batch_id")
  }

  /** [[emptyBands]] in its PERSISTED shape (batch_id included) — the
    * manifest-aware read's and the fold's schema anchor. */
  private def emptyBandsPersisted(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Int, Long, Long, Long)]
      .toDF("band_idx", "band_key", "comp", "batch_id")
  }

  /** Fold this accumulator's committed band-key deltas into a
    * generation base ([[StreamNearDedup.compactState]] with bands
    * only): restart's band read stops growing with trigger count while
    * the event log — the OUTPUT — keeps its full per-batch history. */
  def compactBands(spark: SparkSession, stateDir: String): Unit =
    StreamNearDedup.compactState(spark, stateDir,
      Seq("bands" -> emptyBandsPersisted(spark)))

  /** The keep-best state dir's [[Lsm]] layout: bands fold, events never
    * do (see the compaction boundary above). */
  private val BandsLayout = StreamNearDedup.stateLayout(Seq("bands"))

  /** The one canonical-selection order, shared with the batch
    * keep-best gate: best quality first, doc_id as the tie-break. */
  private def byQuality = Window.partitionBy(col("comp"))
    .orderBy(col("quality").desc, col("doc_id"))

  /** Latest-wins resolve over canonical PARTS (newest part first):
    * each part holds at most one row per comp, a later part's row
    * supersedes an earlier one's — so the current canonical is the
    * row from the newest part containing the comp. `max_by` over a
    * generation index is partial-aggregating: no window, no sort, and
    * when the parts were pre-filtered to a batch-bounded comp set the
    * one shuffle moves only those rows. */
  private[graft] def resolveLatest(parts: Seq[DataFrame]): DataFrame =
    parts.zipWithIndex
      .map { case (p, i) => p.withColumn("gen", lit(-i)) }
      .reduce(_ unionByName _)
      .groupBy(col("comp"))
      .agg(max_by(struct(col("doc_id"), col("quality")), col("gen")).as("w"))
      .select(col("comp"), col("w.doc_id").as("doc_id"),
        col("w.quality").as("quality"))

  /** One keep-best step over a (doc_id, text) micro-batch. Returns
    * (events, keys): `events` is one row per batch doc —
    * (doc_id, comp, quality, action) with action ∈ new/replace/drop —
    * and `keys` the batch's CHECKPOINTED (doc_id, band_idx, band_key)
    * band rows, so the caller can derive the winners' band delta
    * (keys ⋈ events-where-action≠drop) from the PERSISTED event rows
    * without executing the events plan a second time. */
  def keepBestBatch(spark: SparkSession, batch: DataFrame,
      stateBands: DataFrame, canon: DataFrame): (DataFrame, DataFrame) = {
    // Shingle→minhash→band once; the minhash pipeline is the expensive
    // branch and feeds BOTH per-batch actions (the events write and the
    // band-delta write) — materialize it once.
    val keys = Dedup.bandKeys(spark, batch).localCheckpoint()
    keepBestWithKeys(spark, batch, keys, Seq(stateBands), Seq(canon))
  }

  /** [[keepBestBatch]] against a caller-materialized band-key frame,
    * with BOTH state tables held as parts.
    *
    * `stateParts` — clustered sorted band base + consolidated unfolded
    * tail, the [[StreamNearDedup.admitWithKeys]] multi-part posture and
    * rationale: part-wise joins keep the base's checkpointed layout,
    * so its side of the probe is exchange- and sort-free.
    *
    * `canonParts` — the canonical table as an LSM list too, NEWEST
    * first: a checkpointed base plus one winner-delta scan per
    * committed batch since the last fold. The per-trigger consumer
    * (the challenged-incumbent lookup) semi-joins EACH part by the
    * batch's challenged comps before [[resolveLatest]], so a trigger
    * reads batch-bounded rows per part instead of executing a
    * per-batch anti-join+union chain whose depth — and shuffle count —
    * grew with every trigger since the last fold (the measured
    * 3.4→7.1 s/batch creep at probe scale). */
  private[graft] def keepBestWithKeys(spark: SparkSession,
      batch: DataFrame, keys: DataFrame, stateParts: Seq[DataFrame],
      canonParts: Seq[DataFrame], ckptProbe: Boolean = false): (DataFrame, DataFrame) = {
    // Deliberately NOT checkpointed: quality is one codegen map pass
    // over the batch source, consumed by two branches of the single
    // events action — a second in-job scan of one micro-batch file is
    // cheaper than a dedicated materialization job per trigger (r20
    // re-confirmed: a lazy checkpoint here measured +15% task time and
    // +1s wall on the 3-trigger gate — the deserialized row cache
    // costs more than re-running the codegen scorer over the cached
    // batch).
    val scored = batch.select(col("doc_id"),
        graft.operators.Pipeline.qualityCol(col("text")).as("quality"))
    // Challenger routing: min colliding cluster per doc (deterministic
    // when a doc's bands touch several clusters' footprints). Part-wise
    // against the state parts; min over the union of per-part matches
    // equals min over the matches of the parts' union.
    // `ckptProbe` MATERIALIZES the routing probe once: it is the one
    // state-sized sub-plan of the trigger and it feeds FOUR consumers
    // of the events plan (challengers, survivors, skeys, and the
    // challenged-comp set embedded once per canonical part) plus the
    // components probe — unmaterialized it re-executes per consumer
    // (the [[StreamNearDedup.admitWithKeys]] hitPrior argument; like
    // there, the persistent accumulator enables it unconditionally
    // since round 18 — measured ~1s off the 3-trigger gate even while
    // the band state still broadcasts). Its result is
    // (doc_id, comp)-sized, batch-bounded.
    val probe = stateParts
      .map(part => keys.join(part, Seq("band_idx", "band_key")))
      .reduce(_ unionAll _)
      .groupBy(col("doc_id")).agg(min(col("comp")).as("comp"))
    val docComp = if (ckptProbe) probe.localCheckpoint() else probe
    val challengers = docComp.join(scored, Seq("doc_id"))
    // Survivors: no collision with any existing cluster — the
    // first-touch intra-batch clustering, unchanged.
    val skeys = keys.join(docComp, Seq("doc_id"), "left_anti")
    val survivors = scored.join(docComp, Seq("doc_id"), "left_anti")
    // No call-site distinct — [[Dedup.componentsBounded]] dedups the
    // canonicalized pairs itself; the a<b self-join's ReusedExchange
    // beat both min-star rewrites in round-18 A/B (the
    // [[StreamNearDedup.admitWithKeys]] rationale).
    val pairs = skeys.select(col("doc_id").as("a"), col("band_idx"), col("band_key"))
      .join(skeys.select(col("doc_id").as("b"), col("band_idx"), col("band_key")),
        Seq("band_idx", "band_key"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
    // Bounded components: a micro-batch's collision graph is tiny, and
    // the distributed star loop's per-round driver overhead dominated
    // trigger wall-clock — see [[Dedup.componentsBounded]].
    val comps = Dedup.componentsBounded(pairs)
      .select(col("id").as("doc_id"), col("comp"))
    val survComp = survivors.join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("comp"), col("quality"))
    // Incumbents enter the ranking ONLY for clusters challenged this
    // batch: a cluster nobody collided with keeps its canonical with
    // zero event rows either way, and ranking every incumbent would
    // push O(total clusters) rows through the window per trigger — a
    // per-trigger cost growing with state, not with the batch. The
    // challenged set comes from docComp directly (challengers is
    // docComp ⋈ scored on an all-batch-docs scored side, so their comp
    // sets are identical) — each canonical part semi-joins against it
    // WITHOUT re-executing the scored scan. It is embedded once PER
    // canonical part, so past the broadcast regime — where one
    // materialization job per trigger is already the posture — it is
    // checkpointed too, collapsing every embedding to a broadcast of
    // materialized rows; below the regime the duplicates are
    // broadcast-cheap distincts over a tiny probe, like the probe's
    // other consumers.
    val challenged = docComp.select(col("comp")).distinct()
    val challengedComps = if (ckptProbe) challenged.localCheckpoint() else challenged
    val relevantCanon = resolveLatest(canonParts.map(
      _.join(challengedComps, Seq("comp"), "left_semi")))
    // ONE ranking pass for both decisions. New-cluster comps are
    // CURRENT-batch doc_ids (componentsBounded minima / own id) while
    // challenged comps are PRIOR-batch doc_ids (cluster ids in
    // committed state), and a doc_id never belongs to two batches (the
    // staging contract, enforced by the commit-skip on redelivery) —
    // so the two partition-key domains are disjoint and one
    // window(comp) ranks them without mixing. Cluster populations are
    // bounded by the dedup radius, so per-key window state stays tiny
    // at any corpus size (the dedup_keep_best argument). Winner
    // semantics are unchanged: rank 1 of a fresh cluster is `new`,
    // rank 1 of a challenged cluster is `replace` unless the incumbent
    // holds it (then, as before, every challenger ranks > 1 and
    // drops); incumbents themselves emit no event.
    val contenders = survComp
      .withColumn("inc", lit(false)).withColumn("fresh", lit(true))
      .unionByName(challengers
        .select(col("doc_id"), col("comp"), col("quality"))
        .withColumn("inc", lit(false)).withColumn("fresh", lit(false)))
      .unionByName(relevantCanon
        .select(col("doc_id"), col("comp"), col("quality"))
        .withColumn("inc", lit(true)).withColumn("fresh", lit(false)))
    val events = contenders.withColumn("rn", row_number().over(byQuality))
      .filter(!col("inc"))
      .select(col("doc_id"), col("comp"), col("quality"),
        when(col("rn") =!= 1, lit("drop"))
          .when(col("fresh"), lit("new"))
          .otherwise(lit("replace")).as("action"))
    (events, keys)
  }

  /** Canonical table from a persisted event log: per cluster, the
    * winner row of the LATEST committed batch (one winner per cluster
    * per batch, so the window is unambiguous).
    *
    * Restart cost, deliberately: the rebuild scans the committed event
    * log — which the job must retain anyway (events IS the output, the
    * provenance an audit pipeline ships downstream; see the compaction
    * boundary in the object scaladoc) — but the `action != drop`
    * filter lands before the window's exchange, so the shuffle moves
    * only WINNER rows: one per cluster per batch-that-changed-it, not
    * the per-doc log. Dropping to a groupBy(max(batch_id)) + self-join
    * would shuffle those same winner rows for the join anyway, so the
    * single window is already the minimal plan over retained data; a
    * deployment that wants O(state) restarts regardless snapshots this
    * table the way bands fold (a third, foldable table), trading the
    * audit-log independence the current two-table design keeps. */
  private def consolidate(events: DataFrame): DataFrame = {
    val latest = Window.partitionBy(col("comp"))
      .orderBy(col("batch_id").desc)
    events.filter(col("action") =!= "drop")
      .withColumn("rn", row_number().over(latest))
      .filter(col("rn") === 1)
      .select(col("comp"), col("doc_id"), col("quality"))
  }

  /** Keep-best admission state EXTERNALIZED to storage under
    * [[StreamNearDedup]]'s marker-commit protocol (same `commits/`
    * markers, same overwrite-per-batch idempotence, same
    * committed-only visibility): band-key deltas to
    * `bands/batch_id=K`, the per-doc event deltas to
    * `events/batch_id=K`. A restarted query rebuilds BOTH in-memory
    * mirrors from committed storage — the band footprint directly,
    * the canonical table by [[consolidate]]-ing the event log — so
    * canonical replacements survive a crash without a third table. */
  final class PersistentKeepBest(spark: SparkSession, stateDir: String,
      foldEvery: Int = StreamNearDedup.DISK_FOLD_EVERY) {

    def events: DataFrame = readEvents(spark, stateDir)

    private var committedIds: Set[Long] = Lsm.committed(stateDir).toSet
    // Deferred auto-compaction at resume behind the same foldEvery
    // knob — the [[StreamNearDedup.PersistentAccumulator]] L0 policy
    // and deferral (r19 item 5 + ADVICE): construction builds the
    // mirrors off the EXISTING band layout (read-only — inspecting
    // state never rewrites it); the unfolded-history debt seeds
    // sinceDiskFold below, so the first NEW committed batch trips the
    // in-loop fold branch and compacts the bands then (events never
    // fold — the object scaladoc's compaction boundary; the canonical
    // mirror consolidates the event log either way). foldEvery <= 0
    // keeps compaction caller-driven.
    // Bands are read through the compaction manifest (generation base
    // + unfolded tail); events below stay a plain committed-ids read —
    // the event log never folds (see the object scaladoc's compaction
    // boundary), and readPartitioned ignores the manifest.
    // Base + tail, never one unioned frame — the [[StreamNearDedup
    // .PersistentAccumulator]] mirror discipline: the clustered base's
    // probe side is exchange- and sort-free per trigger. The base also
    // COLLAPSES to one row per (band_idx, band_key) holding the MIN
    // comp: routing takes min over colliding clusters, and min over
    // per-part minima equals min over the full rows — so the probe
    // join emits at most one match per batch key per part instead of
    // the state's collision multiplicity (hot band keys made it grow
    // with state). Broadcast-regime tail scans stay raw (batch-sized,
    // not worth a shuffle); clustered runs and every folded base
    // collapse.
    private def collapsedMin(bands: DataFrame): DataFrame =
      bands.groupBy(col("band_idx"), col("band_key"))
        .agg(min(col("comp")).as("comp"))
    private def storedBands(): DataFrame =
      StreamNearDedup.ckptClustered(spark, collapsedMin(
        StreamNearDedup.readState(spark, stateDir, "bands",
            emptyBandsPersisted(spark), Lsm.state(stateDir, BandsLayout))
          .select(col("band_idx"), col("band_key"), col("comp"))))
    @volatile private var bandsBase: DataFrame = storedBands()
    @volatile private var bandsTail: List[DataFrame] = Nil
    // Canonical mirror as an LSM list too — checkpointed base + one
    // lazy winner-delta scan per committed batch (newest first),
    // resolved latest-wins by [[resolveLatest]] only for the comps a
    // trigger actually challenges. The former anti-join+union chain
    // re-executed one shuffle PER LAYER inside every events write — a
    // per-trigger cost growing with triggers-since-fold.
    @volatile private var canonBase: DataFrame =
      consolidate(StreamNearDedup.readPartitioned(spark, s"$stateDir/events",
        committedIds, emptyEvents(spark))).localCheckpoint()
    @volatile private var canonTail: List[DataFrame] = Nil
    private var sinceMemFold = 0
    private var sinceDiskFold =
      if (foldEvery > 0) Lsm.state(stateDir, BandsLayout).pending.size else 0

    /** The foreachBatch body (serial per query; lock defensive).
      *
      * Compute-once/write-concurrent per trigger (r21, guide §2.6):
      * the events plan executes ONCE into a per-trigger persist, and
      * the two delta writes — the events parquet and the band delta
      * derived from the cached winner rows — run as concurrent job
      * chains settled via awaitAll, so the band delta no longer waits
      * behind the events write plus a parquet read-back of the file it
      * just wrote (the r20 sequential posture; measured ~-0.4 s on the
      * 3-trigger gate). The canonical mirror's delta layer still reads
      * the COMMITTED file lazily — the persist is released at trigger
      * end, so later triggers must not reference it. The marker still
      * lands only after BOTH delta writes, so replay visibility is
      * unchanged.
      *
      * Mirror folds are LAZY (the [[StreamNearDedup
      * .PersistentAccumulator]] cadence): between fold points both
      * mirrors are plans over the checkpointed base and up to
      * [[StreamNearDedup.MEM_FOLD_EVERY]] committed delta scans /
      * anti-join layers, so steady-state triggers run exactly the two
      * delta-write jobs plus [[Dedup.componentsBounded]]'s one probe
      * fetch. Every `foldEvery` committed batches the on-disk band
      * layout folds too ([[compactBands]] from inside the loop — safe:
      * foreachBatch is the single writer and runs serially) and the
      * band mirror re-bases onto the new generation. */
    def onBatch(batch0: DataFrame, batchId: Long): Unit = synchronized {
      // Job labels (guide §1.5): thread-local, covers every job this
      // trigger launches on the foreachBatch thread (the concurrent
      // write futures label their own threads). Cleared on exit so the
      // last trigger's label cannot leak onto unrelated later jobs
      // from the same thread (r20 ADVICE).
      def label(s: String): Unit =
        spark.sparkContext.setJobDescription(s"keepbest b$batchId: $s")
      label("trigger")
      try onBatchLabeled(batch0, batchId, label)
      finally spark.sparkContext.setJobDescription(null)
    }

    private def onBatchLabeled(batch0: DataFrame, batchId: Long,
        label: String => Unit): Unit = {
      if (!committedIds(batchId)) {
        // Spread the one-file micro-batch before minhash/quality (the
        // [[StreamNearDedup.PersistentAccumulator.onBatch]] rationale:
        // one row group = one scan task, and the persisted band rows
        // would otherwise sit in a single partition). Persisted —
        // quality is scanned by two event branches and the survivors
        // anti-join; unpersisted each would re-scan and re-shuffle.
        val batch = batch0.repartition(
          StreamNearDedup.triggerShufflePartitions(spark), col("doc_id"))
          .persist()
        val keys = Dedup.bandKeys(spark, batch).persist()
        val winners = try {
          // ckptProbe whenever PRIOR state exists (the
          // [[StreamNearDedup.PersistentAccumulator]] rationale).
          label("probe+components")
          val (events0, _) = keepBestWithKeys(spark, batch, keys,
            bandsBase :: bandsTail, canonTail :+ canonBase,
            ckptProbe = committedIds.nonEmpty)
          // ONE execution of the batch plan feeds BOTH delta writes:
          // persist the events rows, then run the writes as concurrent
          // job chains (guide §2.6, the awaitAll idiom). The band
          // delta joins keys with the CACHED winner rows instead of
          // re-reading the just-written events parquet, so it no
          // longer serializes behind the events write + file
          // round-trip. Released below — later triggers read the
          // committed file, never this cache.
          val events = events0.persist()
          import scala.concurrent.ExecutionContext.Implicits.global
          import scala.concurrent.Future
          // coalesce(1): one batch's delta, sized like the first-touch
          // accumulator's — a production job sizes this to batch volume.
          val eventsWriteF = Future {
            label("events write")
            events.coalesce(1).write.mode("overwrite")
              .parquet(s"$stateDir/events/batch_id=$batchId")
          }
          val bandDelta = keys
            .join(events.filter(col("action") =!= "drop")
              .select(col("doc_id"), col("comp")), Seq("doc_id"))
            .select(col("band_idx"), col("band_key"), col("comp"))
          val bandWriteF = Future {
            label("band delta write")
            bandDelta.coalesce(1).write.mode("overwrite")
              .parquet(s"$stateDir/bands/batch_id=$batchId")
          }
          StreamingOps.awaitAll(Seq(eventsWriteF, bandWriteF))
          events.unpersist(blocking = false)
          Lsm.commit(stateDir, batchId)
          // The canonical mirror's delta layer: a lazy scan of the
          // COMMITTED events file (not the released cache above), the
          // same storage-backed posture as before.
          spark.read
            .parquet(s"$stateDir/events/batch_id=$batchId")
            .filter(col("action") =!= "drop")
            .select(col("comp"), col("doc_id"), col("quality"))
        } finally {
          keys.unpersist(blocking = false)
          batch.unpersist(blocking = false)
        }
        committedIds += batchId
        // One tail part per committed delta — the [[StreamNearDedup
        // .PersistentAccumulator]] L0 discipline and rationale
        // (broadcast-regime deltas stay lazy scans; bigger ones become
        // clustered sorted runs; never consolidated). Past the
        // broadcast regime the run is min-collapsed like the base, so
        // the routing probe's output stays ≤ batch keys × live parts.
        bandsTail = {
          val path = s"$stateDir/bands/batch_id=$batchId"
          val scan = spark.read.parquet(path)
            .select(col("band_idx"), col("band_key"), col("comp"))
          if (StreamNearDedup.dirBytes(path) <= StreamNearDedup.RUN_CLUSTER_BYTES)
            scan
          else StreamNearDedup.ckptClustered(spark, collapsedMin(scan))
        } :: bandsTail
        // The winners delta IS the canonical update: a replacement's
        // newer row supersedes the cluster's older one at resolve
        // time, a new cluster's row introduces it. One lazy scan of
        // the just-written events file — no per-trigger join.
        canonTail = winners :: canonTail
        sinceMemFold += 1; sinceDiskFold += 1
        if (foldEvery > 0 && sinceDiskFold >= foldEvery) {
          compactBands(spark, stateDir)
          bandsBase = storedBands()
          bandsTail = Nil
          canonBase = resolveLatest(canonTail :+ canonBase).localCheckpoint()
          canonTail = Nil
          sinceDiskFold = 0; sinceMemFold = 0
        } else if (sinceMemFold >= StreamNearDedup.MEM_FOLD_EVERY) {
          bandsBase = StreamNearDedup.ckptClustered(spark, collapsedMin(
            (bandsBase :: bandsTail).reduce(_ unionAll _)))
          bandsTail = Nil
          canonBase = resolveLatest(canonTail :+ canonBase).localCheckpoint()
          canonTail = Nil
          sinceMemFold = 0
        }
      }
    }
  }

  /** The committed (doc_id, comp, quality, action, batch_id) event
    * rows under a state dir — committed-only, like
    * [[StreamNearDedup.readAdmitted]]. */
  private[graft] def readEvents(spark: SparkSession, stateDir: String): DataFrame =
    StreamNearDedup.readPartitioned(spark, s"$stateDir/events",
      Lsm.committed(stateDir).toSet, emptyEvents(spark))

  /** One live paced run against explicit checkpoint + state dirs —
    * restartable exactly like [[StreamNearDedup.runLiveAgainst]]
    * (the spec stops mid-sequence and proves canonical replacement
    * survives the restart). Isolated `newSession`. */
  private[graft] def runLiveAgainst(spark: SparkSession, path: String,
      ckpt: String, stateDir: String,
      foldEvery: Int = StreamNearDedup.DISK_FOLD_EVERY): Unit = {
    val schema = spark.read.parquet(path).schema
    val ss = spark.newSession()
    // Per-trigger shuffles move one batch's delta, not the corpus —
    // size them to delta volume (see
    // [[StreamNearDedup.triggerShufflePartitions]]); checkpoint
    // retention trimmed per the live-gate convention.
    ss.conf.set("spark.sql.shuffle.partitions",
      StreamNearDedup.triggerShufflePartitions(spark).toString)
    ss.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    val acc = new PersistentKeepBest(ss, stateDir, foldEvery = foldEvery)
    val q = ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(path)
      .select(col("doc_id"), col("text"))
      .writeStream
      .foreachBatch((b: DataFrame, id: Long) => acc.onBatch(b, id))
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
  }

  /** Gate/bench query: keep-best admission under the live engine with
    * REAL batch boundaries — the same [[Dedup.PACED_BATCHES]]-file
    * staged source as `stream_neardedup_paced`, one file per
    * micro-batch. Output is the full per-doc event log of the
    * clustered docs (clusters with ≥2 routed docs — singleton
    * clusters are the non-duplicated corpus bulk, exactly what the
    * batch keep-best gate also omits) plus the final verdict:
    * `kept` marks each cluster's end-of-stream canonical, which the
    * running-argmax invariant makes equal to the batch
    * `dedup_keep_best` argmax over the same members. The oracle
    * ([[graft.operators.Dedup.streamKeepBestPacedSql]]) replays the
    * batch boundaries in SQL, so a lumped or reordered trigger — or a
    * replacement attributed to the wrong batch — shifts `action`
    * or `batch_id` and reddens the gate. */
  def streamKeepBestPaced(spark: SparkSession, dir: String): DataFrame = {
    val path = StreamNearDedup.stagedPacedDocsDir(spark, dir)
    val stateDir = graft.Scratch.dir("graft_keepbest_state_")
    val ckpt = graft.Scratch.dir("graft_keepbest_ckpt_")
    try {
      runLiveAgainst(spark, path, ckpt.toString, stateDir.toString)
      // Detach from the state dir before it is reclaimed (the
      // StreamNearDedup.runLive posture).
      val ev = readEvents(spark, stateDir.toString)
        .select(col("doc_id"), col("comp"), col("quality"),
          col("action"), col("batch_id"))
        .localCheckpoint()
      val clustered = ev.groupBy(col("comp"))
        .agg(count(lit(1)).as("n")).filter(col("n") >= 2)
        .select(col("comp"))
      ev.withColumn("kept", row_number().over(byQuality) === 1)
        .join(clustered, Seq("comp"))
        .select(col("doc_id"), col("comp"), col("quality"),
          col("batch_id"), col("action"), col("kept"))
        .orderBy(col("doc_id"))
    } finally {
      StreamingOps.deleteRecursively(ckpt)
      StreamingOps.deleteRecursively(stateDir)
    }
  }
}
