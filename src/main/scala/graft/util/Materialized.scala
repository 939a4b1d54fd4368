package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialized intermediate artifacts — the table a production pipeline
  * PERSISTS between stages (the q74 incremental signature index pattern:
  * derive the verified-duplicate pair set once, let every downstream
  * policy stage consume the same artifact instead of re-deriving it).
  *
  * A production curation pipeline persists its derived tables (the q140
  * pair index) to the lake so a cold-start consumer (q143/q200 standalone)
  * reads the artifact instead of re-deriving it. Paths are
  * content-addressed by the logical key (sf dir + operator + operating
  * point + a version token — bump the token when the producing operator's
  * semantics change, or delete the artifacts dir). A session registry in
  * front of the lake keeps each session's read-back; its keys embed the
  * session identity, so a new SparkSession never reads another session's
  * frames. Deterministic inputs ⇒ read-back and re-derivation are
  * value-identical, so every oracle hash is path-independent.
  */
object Materialized {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  def key(spark: SparkSession, parts: String*): String =
    (System.identityHashCode(spark).toString +: parts).mkString("|")

  private def artifactsDir: String =
    sys.props.getOrElse("graft.artifacts.dir", "/tmp/graft_artifacts")

  def lakePath(parts: Seq[String]): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(parts.mkString("|").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    s"$artifactsDir/$h"
  }

  private def committed(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Producer: ALWAYS rebuild, WRITE the artifact to its content-addressed
    * lake path (the producer's honest cost includes the persist), and
    * register the read-back as this session's materialization.
    */
  def putPersistent(
      spark: SparkSession, parts: Seq[String], df: DataFrame): DataFrame = {
    val path = lakePath(parts)
    df.write.mode("overwrite").parquet(path)
    val back = spark.read.parquet(path)
    val old = cache.put(key(spark, parts: _*), back)
    if (old != null && (old ne back))
      try old.unpersist(blocking = false)
      catch { case scala.util.control.NonFatal(_) => () }
    back
  }

  /** Consumer: session registry → committed lake artifact → self-
    * sufficient rebuild (which also persists, so the NEXT cold start
    * reads).
    */
  def getOrBuildPersistent(
      spark: SparkSession, parts: Seq[String])(build: => DataFrame): DataFrame =
    cache.computeIfAbsent(key(spark, parts: _*), _ => {
      val path = lakePath(parts)
      if (committed(spark, path)) spark.read.parquet(path)
      else {
        build.write.mode("overwrite").parquet(path)
        spark.read.parquet(path)
      }
    })

  /** Test hook: forget a session-registry entry (simulates a cold start
    * against the lake artifact without restarting the JVM).
    */
  private[graft] def evict(k: String): Unit = { cache.remove(k); () }
}
