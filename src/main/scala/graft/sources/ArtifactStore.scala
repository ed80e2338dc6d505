package graft.sources

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one memo layer for per-corpus derived INDEXES (graph edge
  * sets, shingle postings, IVF/PQ models, cluster labelings, bucketed
  * layouts). An index build costs one or more full data passes; a
  * session pays it at most once per corpus STATE. Two tiers:
  *
  * '''Session tier''' ([[memo]], [[memoNamed]]): an in-JVM map per
  * `kind`, keyed on (session id, corpus dir, [[Tables.fingerprint]] of
  * EVERY table the build reads). The fingerprint is the table's
  * (path, length, mtime) listing — metadata-only — so an in-place
  * rewrite of any input re-keys instead of serving a stale index. The
  * session id keeps a frame checkpointed by a stopped session from
  * ever reaching a new one. Builds are serialized per key (two
  * concurrent cold callers build once); a build may call other kinds'
  * builds (prIndex → edges) because each key has its own lock and the
  * kinds form a DAG. Past [[MaxPerKind]] entries a kind clears
  * wholesale — per kind, so the dozen kinds of one bench session
  * never evict each other.
  *
  * '''Durable tier''' ([[frame]], [[artifact]], [[staged]]): the
  * session tier over a publication at `<root>/<kind>/<fingerprint-hash>/`
  * (parquet, or the files a staging writer lays down), where
  *   - `root` is `spark.graft.artifactDir` — on a real cluster a
  *     shared HDFS/S3 URI; defaults to the local tmp dir (the corpus
  *     dir itself may be read-only, as the gate's is);
  *   - `kind` names the artifact AND its algorithm version
  *     (`ivf-model-v1`) — a semantics change must bump the version so
  *     old artifacts miss rather than silently serve stale results;
  *   - the hash is over the input table's fingerprint.
  * A restarted driver, or another session on the cluster, reloads the
  * publication instead of rebuilding; executor loss cannot invalidate
  * it. Publication is atomic ([[publish]]): build → write to a hidden
  * sibling temp path → rename into place. Readers accept only
  * directories whose `_SUCCESS` marker exists, so a crashed writer
  * leaves garbage, never a half-artifact.
  *
  * '''Index-only rule.''' A value held here is an index that queries
  * READ — never a query's finished answer. Serving an answer from a
  * memo makes a hot run measure a lookup and hides the query's plan
  * from its plan pins; the kinds here are the build-once half of
  * build-once/query-many operators, and every query still runs its
  * own serve-side plan over them.
  *
  * Per kind, the layer counts builds (runs of the caller's build —
  * for durable kinds, artifact builds, not reloads) and session hits;
  * tests read build counts and the bench derives `memoized_hot` from
  * hits.
  */
object ArtifactStore {

  /** Entries one kind holds before it clears wholesale. */
  private val MaxPerKind = 16

  private final case class Key(session: String, dir: String, fingerprints: Seq[String])
  private final class Slot { var value: Option[Any] = None }
  private final class Kind {
    val slots = new ConcurrentHashMap[Key, Slot]()
    val builds = new AtomicInteger(0)
    val hits = new AtomicInteger(0)
  }
  private val kinds = new ConcurrentHashMap[String, Kind]()
  private def kindOf(kind: String): Kind = kinds.computeIfAbsent(kind, _ => new Kind)

  /** Stable unique id of a session. The classic runtime exposes one
    * (`sessionUUID`); any other `SparkSession` subtype gets a fresh
    * UUID from a weak map — unlike `identityHashCode`, neither can
    * collide across a GC'd session's lifetime.
    */
  private val fallbackIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())
  private def sessionId(spark: SparkSession): String =
    org.apache.spark.sql.graft.ColumnBridge.sessionUUID(spark).getOrElse(
      fallbackIds.computeIfAbsent(spark, _ => java.util.UUID.randomUUID().toString))

  /** Builds of `kind` in this JVM. */
  def builds(kind: String): Int = kindOf(kind).builds.get()

  /** Session-tier hits of `kind` in this JVM. */
  def hits(kind: String): Int = kindOf(kind).hits.get()

  /** Session-tier hits over all kinds in this JVM. */
  def totalHits: Long = kinds.values().stream().mapToLong(_.hits.get().toLong).sum()

  private def digest(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString

  /** The session-tier lookup: serve the entry for (kind, key), or run
    * `miss` under the key's lock. `miss` receives a digest of the
    * corpus state (kind, dir and fingerprints; not the session).
    */
  private def served[V](spark: SparkSession, kind: String, dir: String,
      tables: Seq[String])(miss: String => V): V = {
    val k = kindOf(kind)
    val key = Key(sessionId(spark), dir, tables.map(Tables.fingerprint(spark, dir, _)))
    if (k.slots.size > MaxPerKind) k.slots.clear()
    val slot = k.slots.computeIfAbsent(key, _ => new Slot)
    slot.synchronized {
      slot.value match {
        case Some(v) =>
          k.hits.incrementAndGet()
          v.asInstanceOf[V]
        case None =>
          val v = miss(digest((kind +: dir +: key.fingerprints).mkString("\n")))
          slot.value = Some(v)
          v
      }
    }
  }

  private def counted[V](kind: String)(build: => V): V = {
    kindOf(kind).builds.incrementAndGet()
    build
  }

  /** Session-tier index of `kind` over `tables` of corpus `dir`: built
    * once per (session, corpus state).
    */
  def memo[V](spark: SparkSession, kind: String, dir: String, tables: String*)(
      build: => V): V =
    served(spark, kind, dir, tables)(_ => counted(kind)(build))

  /** [[memo]] whose build receives a digest of the corpus state, for
    * an index kept OUTSIDE the JVM under a name (catalog tables):
    * naming it from the state keeps two corpus states from sharing it,
    * while a later run over the same state overwrites its own copy.
    */
  def memoNamed[V](spark: SparkSession, kind: String, dir: String, tables: String*)(
      build: String => V): V =
    served(spark, kind, dir, tables)(tag => counted(kind)(build(tag)))

  /** Durable index of `kind` over `table`, read into a driver-side
    * value (a model) once per session: the session tier over the
    * published parquet, which `build` produces at most once per corpus
    * state across sessions.
    */
  def artifact[V](spark: SparkSession, kind: String, dir: String, table: String)(
      build: => DataFrame)(read: DataFrame => V): V =
    served(spark, kind, dir, Seq(table)) { _ =>
      val p = publish(spark, dir, table, kind) { tmp =>
        counted(kind)(build).write.mode("overwrite").parquet(tmp.toString)
      }
      read(spark.read.parquet(p.toString))
    }

  /** Durable directory of `kind` over `table` that `write` fills with
    * files of its own (a copy of the table in an interchange format, a
    * stream-source replay): the session tier over the publication, so
    * a hot run reads it without restaging. Returns the directory.
    */
  def staged(spark: SparkSession, kind: String, dir: String, table: String)(
      write: Path => Unit): String =
    served(spark, kind, dir, Seq(table)) { _ =>
      publish(spark, dir, table, kind)(tmp => counted(kind)(write(tmp))).toString
    }

  /** Durable index of `kind` over `table` as a frame: always a plain
    * parquet scan of the publication, so downstream lineage never
    * re-runs the build.
    */
  def frame(spark: SparkSession, kind: String, dir: String, table: String)(
      build: => DataFrame): DataFrame =
    artifact(spark, kind, dir, table)(build)(identity)

  def root(spark: SparkSession): String =
    spark.conf.get("spark.graft.artifactDir",
      new java.io.File(
        sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft-artifacts").getPath)

  /** Where (kind, corpus-table state) lives under the artifact root. */
  def artifactPath(
      spark: SparkSession, corpusDir: String, table: String, kind: String): Path =
    new Path(new Path(root(spark), kind),
      digest(Tables.fingerprint(spark, corpusDir, table)))

  /** The one publish protocol of (kind, corpus-table state): unless a
    * complete publication exists, `write` fills a hidden sibling temp
    * directory, which gets a `_SUCCESS` marker if the writer left none,
    * replaces a crashed writer's half-artifact and is renamed into
    * place. A lost publish race defers to the winner (same corpus
    * state, same content). Returns the publication's directory.
    */
  private[graft] def publish(
      spark: SparkSession, corpusDir: String, table: String, kind: String)(
      write: Path => Unit): Path = {
    val p = artifactPath(spark, corpusDir, table, kind)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val success = new Path(p, "_SUCCESS")
    if (!fs.exists(success)) {
      val tmp = new Path(p.getParent,
        s".${p.getName}.inprogress-${java.util.UUID.randomUUID()}")
      write(tmp)
      val marker = new Path(tmp, "_SUCCESS")
      if (!fs.exists(marker)) fs.create(marker, true).close()
      if (fs.exists(p)) fs.delete(p, true)
      if (!fs.rename(tmp, p)) {
        fs.delete(tmp, true)
        if (!fs.exists(success))
          throw new IllegalStateException(s"artifact publish failed: $p")
      }
    }
    p
  }
}
