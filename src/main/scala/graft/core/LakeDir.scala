package graft.core

import org.apache.spark.sql.SparkSession

/** The ONE definition of the scratch-directory naming rule for the lake
  * gates (x4–x33) and any operator that materialises a fixture layout
  * under `java.io.tmpdir`. Format gates (x4–x21) Overwrite into
  * [[scoped]]; the transaction-log gates (x22–x33) start from an empty
  * [[fresh]] table base, because a commit log must not inherit the
  * previous invocation's versions.
  *
  * Naming contract — `graft_<name>_<session>_<dataset>`:
  *   - `<session>` = appId-hash + SparkSession identityHashCode (the s17
  *     rule, [[graft.operators.Similarity]] bucketed table): appId
  *     separates JVMs, identityHashCode separates sessions within one
  *     JVM, so two concurrent drivers on one host can never clobber each
  *     other's layout mid-scan — while repeated verify/bench invocations
  *     WITHIN a session still reuse one fixed directory (rebuilt in
  *     place with Overwrite) instead of leaking a UUID-named copy per
  *     call.
  *   - `<dataset>` = hex of the sf-dir path hash, so sf0.001/sf0.01/sf0.1
  *     runs in one session don't collide.
  *
  * Round-13 verdict finding #2: this rule was hand-rolled (without the
  * session component) at 16 XmlOps call sites; a new lake gate could
  * silently fork the convention. Now every site calls [[scoped]] or
  * [[fresh]].
  */
object LakeDir {

  /** Per-session discriminator (the s17 rule). Stable for the lifetime of
    * one SparkSession, distinct across JVMs and across sessions in one. */
  private[graft] def sessionTag(s: SparkSession): String =
    Integer.toHexString(s.sparkContext.applicationId.hashCode) +
      Integer.toHexString(System.identityHashCode(s))

  /** Scratch dir for gate `name` over dataset `d`, scoped per (session,
    * dataset). Not created — writers Overwrite into it. */
  def scoped(s: SparkSession, name: String, d: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${name}_" +
      s"${sessionTag(s)}_${Integer.toHexString(d.hashCode)}"

  /** [[scoped]], emptied first: the lake gates rebuild their table from
    * an empty directory on every invocation. */
  def fresh(s: SparkSession, name: String, d: String): String = {
    val dir = scoped(s, name, d)
    delete(s, dir)
    dir
  }

  /** Recursively delete `path` (a no-op when it is absent). */
  def delete(s: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }
}
