package graft.sources

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/** Spark jobs per [[KvIndex]] read call, on the serving table's fixtures
  * ([[KvIndexServingFixture]]): building the answer (version, candidate
  * and touched-key probes) plus collecting it. `lookup` is the point op
  * an online reader issues per indexed get, so every job it adds is
  * paid in get latency. Each count is an upper bound: serving may drop
  * a job, never add one.
  */
class KvIndexJobsSpec extends graft.SparkSpec {

  import KvIndexServingFixture._

  private lazy val tables = build(spark,
    s"${sys.props("java.io.tmpdir")}/graft_test/kv_serving_jobs")

  private val Tag = "graft.test.jobsCall"
  private val started = new ConcurrentHashMap[String, AtomicInteger]()

  private lazy val listener: SparkListener = {
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Tag))).foreach(t =>
          started.computeIfAbsent(t, _ => new AtomicInteger()).incrementAndGet())
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  private def tagged[T](tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tag, tag)
    try body finally sc.setLocalProperty(Tag, null)
  }

  /** Jobs started by `call` and the collect of its answer. Listener
    * delivery is asynchronous, so a flush job tagged apart runs after
    * the call: once the listener has seen it, it has seen every job
    * the call started.
    */
  private def jobs(name: String)(call: => DataFrame): Int = {
    listener
    tagged(name)(call.collect())
    val flush = s"$name/flush"
    tagged(flush)(spark.sparkContext.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!started.containsKey(flush) && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(started.containsKey(flush), s"listener never saw $flush")
    Option(started.get(name)).fold(0)(_.get)
  }

  private val AnyB = ("0", "99999999")

  /** Upper bounds per call: the counts the read paths ran before they
    * shared one candidate-and-verify core.
    */
  private val pinned = Map(
    "lookup fresh narrow" -> 2,
    "lookup stale narrow" -> 4,
    "lookup stale over cap" -> 5,
    "lookupCovered stale narrow" -> 6,
    "lookupComposite stale narrow" -> 4,
    "lookupComposite stale over cap" -> 5,
    "topNCovered stale narrow" -> 4,
    "topNCovered stale over cap" -> 4)

  test("no read call runs more Spark jobs than pinned") {
    val (fresh, stale) = (tables("fresh"), tables("stale"))
    val calls = Seq[(String, () => DataFrame)](
      "lookup fresh narrow" -> (() =>
        KvIndex.lookup(spark, fresh, "plain", "600", "660")),
      "lookup stale narrow" -> (() =>
        KvIndex.lookup(spark, stale, "plain", "600", "660")),
      "lookup stale over cap" -> (() =>
        KvIndex.lookup(spark, stale, "plain", "0", "99999999")),
      "lookupCovered stale narrow" -> (() =>
        KvIndex.lookupCovered(spark, stale, "cov", "600", "660")),
      "lookupComposite stale narrow" -> (() =>
        KvIndex.lookupComposite(spark, stale, "ab", Seq(("600", "660"), AnyB))),
      "lookupComposite stale over cap" -> (() =>
        KvIndex.lookupComposite(spark, stale, "ab", Seq(("0", "99999999"), AnyB))),
      "topNCovered stale narrow" -> (() =>
        KvIndex.topNCovered(spark, stale, "cov", 10)),
      "topNCovered stale over cap" -> (() =>
        KvIndex.topNCovered(spark, stale, "cov", KvIndex.InPushdownCap)))
    calls.map(_._1).toSet shouldBe pinned.keySet
    val counted = calls.map { case (name, call) => name -> jobs(name)(call()) }
    info(counted.map { case (n, j) => s"$n: $j" }.mkString("; "))
    counted.foreach { case (name, got) =>
      withClue(name) { got should be <= pinned(name) }
    }
  }
}
