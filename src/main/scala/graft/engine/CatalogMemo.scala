package graft.engine

/** Catalog-scoped build memo for pay-the-shuffle-once layouts (q37's
  * bucketed tables, s05's IVF index): "this catalog already holds the
  * layout for this source data".
  *
  * Two hazards drive the shape:
  *   - IDENTITY. An `identityHashCode(sharedState)` key (the earlier
  *     form) can alias: identity hashes may be reused after a
  *     SharedState is GC'd, so a fresh catalog in a long-lived JVM
  *     could read "already laid out" and fail with table-not-found —
  *     and Int-keyed entries accumulate forever. Keying a
  *     `WeakHashMap` on the SharedState REFERENCE makes entries
  *     identity-correct and lets them die with the session.
  *   - CONTENT. A memo keyed only on the source *path* goes stale if
  *     the files under an unchanged path are rewritten mid-process —
  *     a hit would probe a stale on-disk index. [[CatalogMemo.contentKey]]
  *     folds the source files' (count, max mtime, total bytes) into
  *     the key, so a rewritten dataset at the same path misses and
  *     rebuilds.
  *
  * Usage contract: [[buildOnce]] is the only way in. It looks the
  * value up and, on a miss, runs invalidate → build → record, so a
  * partial build (second write throws) records nothing and retries
  * next call instead of silently serving half a layout.
  */
final class CatalogMemo[V] {
  // WeakHashMap compares keys with equals(); SharedState doesn't
  // override it, so this is reference identity, which is the point.
  private val m = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[AnyRef, (String, V)]())

  /** The value recorded for `s`'s catalog under `dir`'s current
    * content key; on a miss, `build(contentKey)`, recorded only if it
    * returns normally and `keep` accepts it (an empty training result
    * is returned but not kept, so the next call trains again).
    */
  def buildOnce(s: org.apache.spark.sql.SparkSession, dir: String,
      keep: V => Boolean = (_: V) => true)(build: String => V): V = {
    val catalog = s.sharedState
    val ck = CatalogMemo.contentKey(dir, s.sparkContext.hadoopConfiguration)
    Option(m.get(catalog)).filter(_._1 == ck).map(_._2).getOrElse {
      m.remove(catalog)
      val v = build(ck)
      if (keep(v)) m.put(catalog, (ck, v))
      v
    }
  }
}

object CatalogMemo {
  /** Content-scoped PHYSICAL table name: `<base>_<8 hex chars>` of the
    * content key's hash. The in-process memo protects one session from
    * rebuilding, but a FIXED physical name is still a cross-process
    * hazard: two jobs sharing a warehouse (or one warehouse dir
    * surviving across JVMs) but reading different source data would
    * overwrite each other's layout under one name — observed live as
    * an sf0.001 bench rebuilding `graft_ivf_assign` mid-flight under
    * an sf0.01 verify, which then probed sf0.001 data with sf0.01
    * centroids. Deriving the name from the content key gives each
    * source identity its own physical table; same-source processes
    * still share (and idempotently rebuild) the same one.
    * String.hashCode is specified arithmetic — stable across JVMs.
    */
  def tableName(base: String, contentKey: String): String =
    f"${base}_${contentKey.hashCode.toLong & 0xffffffffL}%08x"

  /** Content identity of a source directory: path plus a recursive
    * (file count, max mtime, total bytes) fold, through the HADOOP
    * FileSystem API so any scheme the engine can read (file://,
    * hdfs://, s3a://) gets real rewrite detection — a java.io walk
    * would silently return zeros for remote URIs and the memo would
    * never invalidate on exactly the deployments it exists for. Not
    * cryptographic — it catches the realistic rewrite (new part
    * files, new timestamps, different sizes), and the listing cost is
    * the same O(files) walk any read of the directory performs. A
    * same-millisecond same-size in-place overwrite can still alias;
    * callers needing stronger guarantees should version their paths
    * (the standard data-lake discipline).
    */
  def contentKey(dir: String,
      conf: org.apache.hadoop.conf.Configuration): String = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path)) s"$dir|missing"
    else {
      var c = 0L; var mt = 0L; var b = 0L
      val it = fs.listFiles(path, true)
      while (it.hasNext) {
        val f = it.next()
        c += 1
        mt = math.max(mt, f.getModificationTime)
        b += f.getLen
      }
      s"$dir|$c|$mt|$b"
    }
  }
}
