package graft.tools

/** Cross-PROCESS racer for the [[graft.lake.TxnLog]] CAS: the x22
  * exactly-one-winner claim must not rest on intra-JVM
  * FileAlreadyExistsException alone (round-14 verdict item 2) — two
  * separate processes share no JVM state, so a win here is the
  * filesystem's own atomicity, the same guarantee two Spark DRIVERS on a
  * shared table base would rely on.
  *
  * Args: `<base> <version> <gen> <goFile>`. The process spins until
  * `goFile` appears (so a spec can release all racers at once), attempts
  * the commit of `gen` at `version` ONCE, and exits 0 if it won, 3 if it
  * lost. No SparkSession — the commit path is pure storage, which is
  * the point.
  */
object CommitRacer {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: CommitRacer <base> <version> <gen> <goFile>")
    val Array(base, version, gen, goFile) = args.take(4)
    val go = java.nio.file.Paths.get(goFile)
    val deadline = System.nanoTime() + 30L * 1000L * 1000L * 1000L
    while (!java.nio.file.Files.exists(go)) {
      if (System.nanoTime() > deadline) {
        System.err.println("[racer] go file never appeared")
        sys.exit(2)
      }
      Thread.onSpinWait()
    }
    val won = graft.lake.TxnLog.local(base).tryCommit(version.toInt, graft.lake.Commit(gen))
    sys.exit(if (won) 0 else 3)
  }
}
