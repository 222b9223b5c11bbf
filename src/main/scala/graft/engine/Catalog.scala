package graft.engine

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Named-table registry with Mallard's PUT append semantics.
  *
  * Mirrors `_insert_table` (reference `flight_server.py:388-400`):
  * `CREATE TABLE IF NOT EXISTS t AS SELECT * FROM tmp LIMIT 0` followed
  * by `INSERT INTO t SELECT * FROM tmp` — i.e. first PUT fixes the
  * schema (schema-on-write), later PUTs append.
  *
  * The map is authoritative; the session temp view is derived from it on
  * every mutation so `spark.sql` can see engine tables by name
  * (≈ `db_conn.register`, `flight_server.py:390`). Appends are lazy
  * `unionByName` plans — nothing materializes until an action, and
  * Catalyst optimizes *through* the union (filter/column pushdown into
  * both branches), which is what keeps this viable at scale.
  */
final class Catalog(val spark: SparkSession) {

  /** A table is the union of its appended parts. Keeping the parts
    * (not an incrementally nested union plan) bounds analyzer cost per
    * PUT, and Catalyst's CombineUnions collapses the read-side fold
    * into one flat Union node. Past `compactAfter` parts the lineage is
    * cut with a lazy localCheckpoint — the streaming-ingest equivalent
    * of table compaction, without which ten thousand PUTs would build a
    * ten-thousand-deep plan (analyzer blowup, eventual stack overflow).
    */
  private val tables = TrieMap.empty[String, Vector[DataFrame]]

  /** Monotonic mutation counter: bumped by every catalog mutator, after
    * the mutation is visible. It moves on a write to ANY table, so it is
    * the whole-catalog stamp (`Engine.mutationStamp`, and the fallback
    * of `Engine.readStamp` for statements whose inputs it cannot name).
    */
  val version = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Per-table stamps, keyed by lower-cased name (Spark resolves temp
    * view names case-insensitively). A mutator sets each table it
    * touches to the `version` value it took, so a stamp never repeats:
    * a drop leaves its stamp in place, and a table dropped and created
    * again gets a later one. TcpGate keys a cached reply on the stamps
    * of the tables the statement reads (`Engine.readStamp`).
    */
  private val stamps = TrieMap.empty[String, Long]

  /** The raw temp view object each table's name was last registered
    * as, by lower-cased name — how [[displaced]] tells the catalog's
    * own views from ones raw DDL put in their place.
    */
  private val views = TrieMap.empty[String, AnyRef]

  private def lower(name: String): String = name.toLowerCase(java.util.Locale.ROOT)

  /** Moves `version` and stamps `names` with it. Every mutator calls
    * this in a `finally` AFTER its temp view is registered: a reader
    * that sees the new stamp then also sees the new view. Bumping before
    * the view registers would let a concurrent GET read the new stamp,
    * analyze the old view and cache pre-write bytes under the new stamp.
    */
  private def bump(names: String*): Unit = {
    val v = version.incrementAndGet()
    names.foreach(n => stamps.update(lower(n), v))
  }

  private def register(name: String, df: DataFrame): Unit = {
    df.createOrReplaceTempView(name)
    views.update(lower(name), org.apache.spark.sql.GraftBridge.rawTempView(spark, name).orNull)
  }

  /** The stamp of `name` (any spelling) while the catalog holds it. The
    * exact lookup comes first: iterating a TrieMap takes a snapshot.
    */
  def stamp(name: String): Option[Long] =
    if (tables.contains(name) || tables.keysIterator.exists(_.equalsIgnoreCase(name)))
      stamps.get(lower(name))
    else None

  /** Lower-cased names of catalog tables whose session temp view is no
    * longer the one the catalog registered: raw DDL (or a host app on
    * `spark`) replaced or dropped it, so SQL reading the name may read
    * other tables than the name says.
    */
  def displaced: Set[String] =
    tables.keysIterator.filterNot { n =>
      org.apache.spark.sql.GraftBridge.rawTempView(spark, n)
        .exists(v => views.get(lower(n)).exists(_ eq v))
    }.map(lower).toSet

  private val compactAfter = 64

  private def merged(parts: Vector[DataFrame]): DataFrame =
    parts.reduce(_.unionByName(_))

  /** Serializes map update AND view registration: with only the atomic
    * map update, two concurrent PUTs could register their temp views
    * out of order and leave the SQL-visible view permanently one part
    * behind the map. Mallard serializes INSERTs through one connection;
    * one lock per catalog is the faithful (and simplest) equivalent.
    */
  private val putLock = new Object

  /** First put creates (schema-on-write); later puts append by name.
    *
    * The incoming DataFrame may originate in a *different* session (a
    * cross-engine transfer, `Engine.transferTable`): rebind its logical
    * plan to this catalog's session so the temp view registers HERE,
    * not in the source engine's catalog. The atomic `updateWith` keeps
    * concurrent appends from dropping each other (Mallard serializes
    * INSERTs through one connection, `flight_server.py:244-245`).
    */
  def put(name: String, df: DataFrame): Unit = putLock.synchronized {
    try {
      val local = org.apache.spark.sql.GraftBridge.rebind(spark, df)
      val parts = tables
        .updateWith(name) {
          case Some(v) if v.size + 1 >= compactAfter =>
            // coalesce (no shuffle) before the lineage cut: 64 appended
            // parts carry 64×N input partitions, and without the bound
            // each compaction generation would snowball the task count —
            // hundreds of PUTs would execute thousands of micro-tasks at
            // first action. Capped at the cluster's parallelism the
            // deferred materialization stays a few tasks per generation.
            Some(Vector(merged(v :+ local)
              .coalesce(spark.sparkContext.defaultParallelism)
              .localCheckpoint(false)))
          case Some(v) => Some(v :+ local)
          case None    => Some(Vector(local))
        }
        .get
      register(name, merged(parts))
    } finally bump(name)
  }

  /** Replace regardless of prior contents (CREATE OR REPLACE). Takes
    * the same lock as `put`: all three mutators of (tables, temp views)
    * serialize, or a racing put could register its merged view after
    * this replacement and leave SQL serving the stale union.
    */
  def putReplace(name: String, df: DataFrame): Unit = putLock.synchronized {
    try {
      val local = org.apache.spark.sql.GraftBridge.rebind(spark, df)
      tables.update(name, Vector(local))
      register(name, local)
    } finally bump(name)
  }

  /** Atomic read-modify-write: build a replacement from the CURRENT
    * table under the same lock every other mutator takes, so a
    * concurrent put/putReplace/drop can neither interleave with the
    * read nor be lost by the swap (the DML verbs' UPDATE/DELETE path).
    */
  def replaceWith(name: String)(f: DataFrame => DataFrame): Unit =
    putLock.synchronized { putReplace(name, f(get(name))) }

  def get(name: String): DataFrame =
    merged(tables.getOrElse(name,
      throw new NoSuchElementException(
        s"Table '$name' not found. Available: ${list.mkString(", ")}")))

  def contains(name: String): Boolean = tables.contains(name)

  /** Registry move (`ALTER TABLE … RENAME TO …`). Mutators serialize on
    * putLock, but READERS (get, spark.sql) are lock-free — so the new
    * name is registered BEFORE the old one is dropped: a concurrent
    * reader sees the old name, or both, never neither. The collision
    * check also consults Spark's catalog: renaming onto an unrelated
    * temp view would silently clobber it (DuckDB raises a conflict).
    */
  def rename(from: String, to: String): Unit = putLock.synchronized {
    try {
      if (contains(to) || spark.catalog.tableExists(to))
        throw new IllegalArgumentException(s"Table '$to' already exists")
      val parts = tables.getOrElse(from,
        throw new NoSuchElementException(
          s"Table '$from' not found. Available: ${list.mkString(", ")}"))
      tables.update(to, parts)
      register(to, merged(parts))
      tables.remove(from)
      views.remove(lower(from))
      org.apache.spark.sql.GraftBridge.dropTempView(spark, from)
    } finally bump(from, to)
  }

  def drop(name: String): Boolean = putLock.synchronized {
    try {
      val existed = tables.remove(name).isDefined
      views.remove(lower(name))
      // no-cascade drop: another engine may still serve a cache of the
      // same plan (see GraftBridge.dropTempView)
      org.apache.spark.sql.GraftBridge.dropTempView(spark, name)
      existed
    } finally bump(name)
  }

  def list: Seq[String] = tables.keys.toSeq.sorted

  /** A consistent point-in-time copy of the table map (O(1), TrieMap
    * `readOnlySnapshot`): several lookups on it see one instant, where
    * separate `contains`/`get` calls can straddle a concurrent mutator.
    */
  def snapshot: collection.Map[String, Vector[DataFrame]] = tables.readOnlySnapshot()
}
