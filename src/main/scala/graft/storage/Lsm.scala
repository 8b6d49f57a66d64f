package graft.storage

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}

import scala.jdk.CollectionConverters._

import graft.streaming.StreamingOps

/** The one write-once + commit-marker + MANIFEST protocol behind every
  * maintained store: the ANN index ([[graft.operators.Similarity]]) and
  * the streaming admission states ([[graft.streaming.StreamNearDedup]],
  * [[graft.streaming.StreamKeepBest]]). Each store reads its own tables;
  * this module owns which files those reads may see.
  *
  * Layout contract, under one store directory:
  *   - delta `k` of table `t` at `layout.delta(t, k)`, written once; a
  *     retry of the same id overwrites a crashed attempt's debris;
  *   - `commits/<k>`: an empty marker file, landed LAST. Only marked
  *     deltas are visible, and markers are never deleted (replay skip
  *     checks and id monotonicity rest on them);
  *   - generation `g > 0` of a folded table at `<t>-g<g>`. Generation 0
  *     is `<t>` itself for a store with a base build (the index), and
  *     absent otherwise (a stream starts empty);
  *   - `MANIFEST`: the text `<gen> <foldedUpTo>` — the live generation
  *     and the last delta id folded into it — replaced only by an atomic
  *     move of `MANIFEST.tmp`. Without it the store is at generation 0
  *     with nothing folded: `foldedUpTo = firstId − 1`.
  *
  * A fold covers the contiguous committed prefix after `foldedUpTo`
  * only: a gap is a delta that may still be replayed, and folding past
  * it would hide the replay forever. Garbage — folded delta payloads
  * and generations other than the live one — is reclaimed by the NEXT
  * fold's entry sweep, so a reader of the replaced generation keeps
  * one fold of grace. A live generation whose root is missing fails
  * the read loudly rather than serving the unfolded tail alone.
  *
  * Single writer: [[locked]] serializes writers of one directory (keyed
  * on the normalized absolute path) within ONE JVM. The locks do not
  * span processes — two processes maintaining one store must be
  * serialized outside this module.
  */
object Lsm {

  /** How one store places its tables.
    *
    * @param firstId  the id of the store's first delta (a stream's first
    *                 batch id is 0, the index's first delta 1)
    * @param folds    the tables a fold rewrites into each new generation
    * @param delta    where delta `k` of table `t` lives, relative to the
    *                 store directory
    * @param baseGen  generation 0 is a table of its own at `<t>`
    * @param deltaDir the one directory delta `k` owns whole, when all its
    *                 tables share it; otherwise delta `k` owns
    *                 `delta(t, k)` of each fold table. What a delta owns
    *                 is cleared before its id is claimed and reclaimed
    *                 once it is folded. */
  final case class Layout(firstId: Long, folds: Seq[String],
      delta: (String, Long) => String, baseGen: Boolean = false,
      deltaDir: Option[Long => String] = None) {
    private[storage] def owned(k: Long): Seq[String] =
      deltaDir.fold(folds.map(delta(_, k)))(d => Seq(d(k)))

    private[storage] def genName(table: String, gen: Long): Option[String] =
      if (gen > 0) Some(s"$table-g$gen") else if (baseGen) Some(table) else None

    /** A folded generation's root (`<t>-g<g>`) of some fold table. */
    private[storage] def isFolded(name: String): Boolean =
      folds.exists(t => name.startsWith(s"$t-g"))
  }

  /** One read of a store: the live generation, the last id folded into
    * it, and the committed ids after that (ascending). */
  final case class State(gen: Long, foldedUpTo: Long, pending: Seq[Long])

  private def root(dir: String): Path = Paths.get(dir).toAbsolutePath.normalize()

  /** Every committed delta id, ascending. */
  def committed(dir: String): Seq[Long] = {
    val d = root(dir).resolve("commits")
    if (!Files.isDirectory(d)) Nil
    else scala.util.Using.resource(Files.list(d))(_.iterator().asScala
      .flatMap(_.getFileName.toString.toLongOption).toSeq.sorted)
  }

  /** The validated MANIFEST, or generation 0 with nothing folded. */
  private def pointer(dir: String, layout: Layout): (Long, Long) = {
    val p = root(dir).resolve("MANIFEST")
    if (!Files.exists(p)) (0L, layout.firstId - 1)
    else {
      // ATOMIC_MOVE makes a torn pointer unlikely on a POSIX local FS,
      // but the write is not fsynced and object stores lack atomic
      // rename: a corrupt pointer must fail naming the store and bytes.
      val raw = Files.readString(p)
      val parts = raw.trim.split("\\s+")
      require(parts.length == 2 && parts.forall(_.forall(_.isDigit)),
        s"corrupt MANIFEST at $dir: expected '<generation> <foldedUpTo>', " +
          s"got '${raw.take(80).trim}' — restore it, or delete it to fall " +
          "back to generation 0")
      (parts(0).toLong, parts(1).toLong)
    }
  }

  def state(dir: String, layout: Layout): State = {
    val (gen, folded) = pointer(dir, layout)
    State(gen, folded, committed(dir).filter(_ > folded))
  }

  /** The root of `table` at generation `gen`, or None when the store has
    * no such root (generation 0 without a base build). */
  def live(dir: String, layout: Layout, gen: Long, table: String): Option[String] =
    layout.genName(table, gen).map { name =>
      val p = root(dir).resolve(name)
      require(Files.exists(p),
        s"store at $dir is corrupt: its live generation $gen (MANIFEST " +
          s"pointer) has no '$table' root $p — restore it; reading around " +
          "it would drop every folded row")
      p.toString
    }

  def locked[A](dir: String)(body: => A): A =
    locks.getOrElseUpdate(root(dir), new Object).synchronized(body)

  private val locks = scala.collection.concurrent.TrieMap.empty[Path, Object]

  /** Allocate the next delta id (max committed + 1, or `firstId`) and
    * clear whatever a crashed attempt of ANY op left at it, so the
    * marker can commit only the caller's own tables. Call under
    * [[locked]]. */
  def claim(dir: String, layout: Layout): Long = {
    val k = committed(dir).lastOption.getOrElse(layout.firstId - 1) + 1
    layout.owned(k).map(root(dir).resolve).filter(Files.exists(_))
      .foreach(StreamingOps.deleteRecursively)
    k
  }

  /** Land delta `id`'s marker — an empty file whose NAME is the record.
    * A marker already present means that delta fully committed before
    * (a replay after commit but before the caller's bookkeeping), so it
    * is not an error. */
  def commit(dir: String, id: Long): Unit = {
    val d = Files.createDirectories(root(dir).resolve("commits"))
    try Files.createFile(d.resolve(id.toString))
    catch { case _: FileAlreadyExistsException => () }
  }

  /** Fold the contiguous committed prefix after `foldedUpTo` into
    * generation `gen + 1`. Sweeps garbage first, then stages every fold
    * table as a concurrent job chain through `stage(table, dest, scope)`
    * — `scope` is exactly what the new generation must hold: the live
    * generation plus the deltas being folded — and only after all of
    * them settle swaps the MANIFEST. A no-op when nothing contiguous is
    * pending. */
  def fold(dir: String, layout: Layout)(
      stage: (String, String, State) => Unit): Unit = locked(dir) {
    gc(dir, layout)
    val st = state(dir, layout)
    val upTo = st.pending.foldLeft(st.foldedUpTo)((at, k) => if (k == at + 1) k else at)
    if (upTo > st.foldedUpTo) {
      val gen = st.gen + 1
      val scope = st.copy(pending = st.pending.takeWhile(_ <= upTo))
      import scala.concurrent.ExecutionContext.Implicits.global
      StreamingOps.awaitAll(layout.folds.map { t =>
        scala.concurrent.Future(
          stage(t, root(dir).resolve(layout.genName(t, gen).get).toString, scope))
      })
      val tmp = root(dir).resolve("MANIFEST.tmp")
      Files.writeString(tmp, s"$gen $upTo")
      Files.move(tmp, root(dir).resolve("MANIFEST"), ATOMIC_MOVE, REPLACE_EXISTING)
    }
  }

  /** Delete what the MANIFEST no longer references: folded deltas'
    * payloads and every generation root but the live one, matched by
    * FILE NAME (a trailing slash in `dir` cannot make the live root look
    * stale). Derived from the on-disk pointer alone, so a sweep a crash
    * interrupted is finished by the next one. */
  private def gc(dir: String, layout: Layout): Unit = {
    val (gen, folded) = pointer(dir, layout)
    committed(dir).takeWhile(_ <= folded).flatMap(layout.owned)
      .map(root(dir).resolve).filter(Files.exists(_))
      .foreach(StreamingOps.deleteRecursively)
    val live = layout.folds.flatMap(layout.genName(_, gen)).toSet
    entries(dir).filter { p =>
      val n = p.getFileName.toString
      (layout.isFolded(n) || (layout.baseGen && layout.folds.contains(n))) &&
        !live(n)
    }.foreach(StreamingOps.deleteRecursively)
  }

  /** Return a store to a bare generation 0: the pointer, every marker,
    * every delta and every folded generation go; a base build's own
    * generation-0 tables stay for the caller to overwrite. */
  def reset(dir: String, layout: Layout): Unit = {
    val deltaTops = layout.owned(layout.firstId).map(Paths.get(_).getName(0).toString)
    val doomed = Set("MANIFEST", "MANIFEST.tmp", "commits") ++ deltaTops
    entries(dir).filter { p =>
      val n = p.getFileName.toString
      doomed(n) || layout.isFolded(n)
    }.foreach(StreamingOps.deleteRecursively)
  }

  private def entries(dir: String): List[Path] =
    if (!Files.isDirectory(root(dir))) Nil
    else scala.util.Using.resource(Files.list(root(dir)))(_.iterator().asScala.toList)
}
