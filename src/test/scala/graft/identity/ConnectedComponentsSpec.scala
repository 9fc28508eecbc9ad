package graft.identity

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import scala.collection.mutable
import scala.util.Random

/** The connected-components kernel against a plain union-find on random
  * graphs, and the number of Spark jobs it runs. */
class ConnectedComponentsSpec extends SparkSpec {

  /** The model: union-find over the rows with two distinct non-null ends,
    * each component labelled with its least id in string order. */
  private def model(edges: Seq[(String, String)]): Map[String, String] = {
    val parent = mutable.Map.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges if a != null && b != null && a != b) {
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  private def labels(df: DataFrame): Map[String, String] = {
    val rows = df.collect().map(r => r.getString(0) -> r.getString(1))
    assert(rows.map(_._1).distinct.length === rows.length, "one row per member")
    rows.toMap
  }

  /** A graph of at most 60 vertices. Ids are decimal strings of varying
    * length, so string order and numeric order disagree ("10" < "9"). */
  private def graph(rng: Random, shape: Int): Seq[(String, String)] = {
    val n = 2 + rng.nextInt(59)
    val ids = rng.shuffle((0 until 1000).toVector).take(n).map(_.toString)
    def path(vs: Seq[String]) = vs.zip(vs.tail)
    def any = ids(rng.nextInt(n))
    val base = shape match {
      case 0 => path(ids.sorted)
      case 1 => path(ids)
      case 2 => ids.tail.map(ids.head -> _) // star
      case 3 => // a hub over half the ids, short paths among the rest
        val (hubbed, rest) = ids.splitAt(n / 2)
        hubbed.tail.map(hubbed.head -> _) ++ rest.grouped(3).flatMap(path)
      case _ => Seq.fill(n)(any -> any) // random, about n edges
    }
    val dupes = Seq.fill(rng.nextInt(4))(base(rng.nextInt(base.length)))
    val reversed = Seq.fill(rng.nextInt(4))(base(rng.nextInt(base.length)).swap)
    val loops = Seq.fill(rng.nextInt(3)) { val v = any; v -> v }
    val nulls = Seq.fill(rng.nextInt(3))(if (rng.nextBoolean()) (any, null) else (null, any))
    rng.shuffle(base ++ dupes ++ reversed ++ loops ++ nulls)
  }

  test("model check: random graphs label every component with its least id") {
    import spark.implicits._
    val rng = new Random(7)
    for (i <- 0 until 30) {
      val shape = i % 5
      val edges = graph(rng, shape)
      val want = model(edges)
      assert(labels(ConnectedComponents.run(edges.toDF("src", "dst"))) === want,
        s"graph $i (shape $shape): $edges")
    }
  }

  test("model check: Long ids are labelled in string order") {
    import spark.implicits._
    assert(labels(ConnectedComponents.run(Seq((9L, 10L), (10L, 100L)).toDF("src", "dst"))) ===
      Map("9" -> "10", "10" -> "10", "100" -> "10"))
    val rng = new Random(11)
    for (i <- 0 until 6) {
      val edges = graph(rng, i % 5).filter { case (a, b) => a != null && b != null }
        .map { case (a, b) => (a.toLong, b.toLong) }
      val want = model(edges.map { case (a, b) => (a.toString, b.toString) })
      assert(labels(ConnectedComponents.run(edges.toDF("src", "dst"))) === want,
        s"graph $i: $edges")
    }
  }

  /** Spark jobs started while `body` runs. */
  private def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    org.apache.spark.graftbridge.ListenerBusBridge.waitUntilEmpty(sc, 60000L)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.graftbridge.ListenerBusBridge.waitUntilEmpty(sc, 60000L)
    } finally sc.removeSparkListener(listener)
    started.get
  }

  test("one Spark job per round: the 12-id chain and the random 200-id path") {
    import spark.implicits._
    val chain = (1 until 12).map(i => (f"v$i%02d", f"v${i + 1}%02d")).toDF("src", "dst")
    val ids = new Random(1).shuffle((1 to 200).map(i => f"v$i%03d"))
    val path = ids.zip(ids.tail).toDF("src", "dst")
    val chainJobs = jobs(ConnectedComponents.run(chain).collect())
    val pathJobs = jobs(ConnectedComponents.run(path).collect())
    assert(chainJobs <= 6, s"12-id chain: $chainJobs jobs")
    assert(pathJobs <= 9, s"random 200-id path: $pathJobs jobs")
  }
}
