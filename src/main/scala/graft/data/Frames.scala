package graft.data

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one registry of what this JVM has materialized: persisted and
  * checkpointed frames, driver-side memos (counts, schemas, merge tables,
  * loaded index models) and on-disk stores.
  *
  * Every entry has a typed [[Key]], the owner that created it (the
  * innermost open [[scope]]) and a release action. Lifetimes are set by
  * owners, never by re-deriving a key: [[scope]] releases what was created
  * inside it, [[checkpointScope]] releases only the tracked checkpoints
  * created inside it (one declared query's intermediates) and hands the
  * keyed caches to its parent, and [[releaseAll]] releases everything and
  * deletes this JVM's store root. [[live]] answers "what is pinned now,
  * who pinned it, how many bytes".
  *
  * Stores live under one per-JVM root, `<java.io.tmpdir>/graft_<pid>_<nonce>`,
  * so two processes on one corpus never share (or delete) each other's
  * files; [[storeDir]] is the only path builder.
  *
  * This object also owns the internal-API touchpoints: localCheckpoint'ed
  * frames analyze to a `LogicalRDD` whose blocks live on that RDD rather
  * than in the SQL cache manager, so [[release]] needs `rdd.unpersist` for
  * them and `Dataset.unpersist` for persisted frames; [[live]] reads the
  * cache manager to find a persisted frame's RDD. A Spark upgrade that
  * moves either breaks this file only.
  */
object Frames {

  /** Registry identity: `kind` names what is stored, `corpus` the input it
    * derives from ([[corpusKey]] of a frame, or a table directory),
    * `params` whatever else selects it. */
  final case class Key(kind: String, corpus: String, params: Any*)

  private val Checkpoint = "checkpoint"

  private final class Scope(val owner: String, val parent: Scope) {
    @volatile var open = true
    def openAncestor: Scope = if (open || parent == null) this else parent.openAncestor
  }

  /** `value` is what [[live]] sizes: a frame, or a model holding frames. */
  private final class Entry(val key: Key, val owner: String, var scope: Scope,
      val value: Any, val release: () => Unit)

  private val session = new Scope("session", null)
  // inheritable: a streaming query's micro-batch thread starts inside the
  // caller's scope and registers into it
  private val current = new InheritableThreadLocal[Scope] {
    override def initialValue(): Scope = session
  }
  private val entries = mutable.LinkedHashMap.empty[Key, Entry] // guarded by this

  private def register(key: Key, value: Any, release: () => Unit): Unit = synchronized {
    val s = current.get.openAncestor
    entries.put(key, new Entry(key, s.owner, s, value, release))
  }

  /** The entry under `key`, built (outside the registry lock: builds are
    * Spark jobs) and registered on a miss. A build that loses a race to a
    * concurrent one is released, never leaked. */
  def getOrCreate[T](key: Key)(build: => T)(release: T => Unit): T =
    synchronized(entries.get(key)) match {
      case Some(e) => e.value.asInstanceOf[T]
      case None =>
        val v = build
        val winner = synchronized {
          entries.get(key) match {
            case Some(e) => Some(e.value.asInstanceOf[T])
            case None => register(key, v, () => release(v)); None
          }
        }
        winner.fold(v) { w => release(v); w }
    }

  /** Register `value` under `key`, releasing the entry it supersedes (a
    * store that moved on: an appended index, a fan-out of a new file set). */
  def replace[T](key: Key)(value: T)(release: T => Unit): T = {
    synchronized { val old = entries.remove(key); register(key, value, () => release(value)); old }
      .foreach(_.release())
    value
  }

  /** Cache identity of a corpus frame. The canonicalized plan string alone
    * is NOT sufficient: an unresolved parquet read prints "paths: 1
    * provided" with no actual path, so two same-schema corpora in one
    * session (two sf dirs, or a test suite after a bench run) would
    * collide and the second silently reuse the first's caches. Key on the
    * ANALYZED canonical plan plus the resolved input files (distinct per
    * corpus directory) plus the row data of any in-memory relation
    * (same-schema test frames differ only in data, which the plan string
    * omits). */
  def corpusKey(df: DataFrame): String = {
    val analyzed = df.queryExecution.analyzed
    val localData = analyzed.collectLeaves().collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l.data.hashCode()
    }
    (analyzed.canonicalized.toString, df.inputFiles.toSeq.sorted.mkString(","),
      localData.mkString(",")).toString
  }

  /** Release a cached OR localCheckpoint'ed DataFrame (see object doc). */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd.unpersist(false)
    case _ => df.unpersist(blocking = false)
  }

  /** Eagerly localCheckpoint `df` and register the result as a tracked
    * checkpoint — for intermediates a RETURNED lazy plan still reads (so
    * they cannot be released inside the operator). The enclosing
    * [[checkpointScope]] (one declared query in Bench/Verify) releases it. */
  def trackedCheckpoint(df: DataFrame): DataFrame = track(df.localCheckpoint(eager = true))

  /** Register an already persisted or checkpointed frame as a tracked
    * checkpoint (see [[trackedCheckpoint]]). */
  def track(df: DataFrame): DataFrame = {
    register(Key(Checkpoint, s"#${checkpoints.incrementAndGet()}"), df, () => release(df))
    df
  }
  private val checkpoints = new java.util.concurrent.atomic.AtomicLong()

  /** Materialize `result` to its own storage (localCheckpoint: small output
    * blocks, lineage truncated) so the large upstream caches backing it can
    * be released immediately. The checkpointed result is the operator's
    * OUTPUT — orders of magnitude smaller than the intermediates it frees —
    * and a tracked checkpoint. */
  def materializeAndRelease(result: DataFrame, caches: DataFrame*): DataFrame = {
    val out = trackedCheckpoint(result)
    caches.foreach(release)
    out
  }

  /** Run `body`; on exit release every entry created inside it, keyed
    * caches included. `owner` names the entries in [[live]]. */
  def scope[T](owner: String)(body: => T): T = within(owner, keepsShared = false)(body)

  /** Run `body`; on exit release the tracked checkpoints created inside it.
    * Keyed caches created inside outlive it (later queries share them) and
    * pass to the enclosing scope. The per-query scope of the mains. */
  def checkpointScope[T](owner: String)(body: => T): T = within(owner, keepsShared = true)(body)

  private def within[T](owner: String, keepsShared: Boolean)(body: => T): T = {
    val s = new Scope(owner, current.get.openAncestor)
    current.set(s)
    try body
    finally {
      current.set(s.parent)
      s.open = false
      releaseEach(synchronized {
        val (drop, keep) = entries.values.filter(_.scope eq s).toSeq
          .partition(e => !keepsShared || e.key.kind == Checkpoint)
        keep.foreach(_.scope = s.parent)
        remove(drop)
      })
    }
  }

  /** Release every entry and delete this JVM's store root. Each main ends
    * with this call. */
  def releaseAll(): Unit =
    try releaseEach(synchronized(remove(entries.values.toSeq))) finally deleteRecursively(root)

  private def remove(es: Seq[Entry]): Seq[Entry] = { es.foreach(e => entries.remove(e.key)); es }

  // newest first (a cache built from another goes before it); every
  // release runs, and the first failure is rethrown after the rest
  private def releaseEach(es: Seq[Entry]): Unit = {
    val failures = es.reverse.map(e => scala.util.Try(e.release())).collect {
      case scala.util.Failure(t) => t
    }
    failures.headOption.foreach(throw _)
  }

  /** (key, owner, bytes) of every live entry; bytes are the memory + disk
    * the entry's frames hold in the block manager, read now (never on the
    * create path). Memos and stores hold no blocks and read 0. */
  def live(): Seq[(Key, String, Long)] = {
    val es = synchronized(entries.values.toSeq)
    val blocks: Map[Int, Long] = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.getRDDStorageInfo.map(i => i.id -> (i.memSize + i.diskSize)).toMap)
      .getOrElse(Map.empty)
    es.map(e => (e.key, e.owner, rddIds(e.value).distinct.map(blocks.getOrElse(_, 0L)).sum))
  }

  private def rddIds(v: Any): Seq[Int] = v match {
    case df: Dataset[_] => df.toDF().queryExecution.analyzed match {
      case l: LogicalRDD => Seq(l.rdd.id)
      case _ =>
        val s = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        s.sharedState.cacheManager
          .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
          .map(_.cachedRepresentation.cacheBuilder)
          .filter(_.isCachedColumnBuffersLoaded)
          .map(_.cachedColumnBuffers.id).toSeq
    }
    case p: Product if !p.isInstanceOf[Iterable[_]] => p.productIterator.flatMap(rddIds).toSeq
    case _ => Nil
  }

  /** This JVM's store root, `<java.io.tmpdir>/graft_<pid>_<nonce>`: per
    * process, so no other JVM on the box reads, overwrites or deletes its
    * stores. Created on first [[storeDir]]; deleted by [[releaseAll]] and,
    * for a process that dies before it, at JVM exit. */
  val root: File = new File(sys.props("java.io.tmpdir"),
    s"graft_${ProcessHandle.current.pid}_${java.util.UUID.randomUUID.toString.take(8)}")
  sys.addShutdownHook(deleteRecursively(root))

  /** The directory for store `kind` of `key` (a table dir, a corpus key, a
    * run name): `<root>/graft_<kind>_<md5(key)>` — the `graft_<kind>_`
    * name is what a plan's scan location shows. md5, not hashCode:
    * distinct keys must never collide on one path. The caller writes it;
    * its parent exists. */
  def storeDir(kind: String, key: String): String = {
    root.mkdirs()
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
    new File(root, s"graft_${kind}_$hex").getPath
  }

  /** Delete a file or directory tree (stores, one-shot stream checkpoints). */
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }
}
