package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed operation: its latency class, the request key it ran, the
  * epoch-ms start, the latency, and whether its answer was accepted. */
final case class Op(cls: String, key: String, t0Ms: Long, ms: Double, ok: Boolean)

/** Shared state of one benchmark process. The seeded plan comes from the
  * Python runner (run.py); the result map goes back to it as JSON. */
final class Ctx(val spark: SparkSession, val plan: Map[String, Any],
                val lake: String, val work: Path, val seconds: Double,
                val trace: Boolean) {
  val out = scala.collection.mutable.LinkedHashMap[String, Any]()
  val failures = new ConcurrentLinkedQueue[String]()
  lazy val probe = new Probe(spark)

  def fail(why: String): Boolean = { failures.add(why); false }

  def list(k: String): List[Any] = plan(k).asInstanceOf[List[Any]]
  def obj(k: String): Map[String, Any] = plan(k).asInstanceOf[Map[String, Any]]
}

object Http {
  val AdminToken = "perfbench-admin"
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  @volatile var port = 0

  def send(method: String, path: String, body: String = ""): (Int, Array[Byte]) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Authorization", s"Bearer $AdminToken")
      .method(method,
        if (body.isEmpty) HttpRequest.BodyPublishers.noBody()
        else HttpRequest.BodyPublishers.ofString(body))
    val r = client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
    (r.statusCode(), r.body())
  }
  def get(path: String): (Int, Array[Byte]) = send("GET", path)

  /** Creates a geostore and returns its id. */
  def geostore(geojson: String): String = {
    val (code, body) = send("POST", "/geostore", geojson)
    require(code == 201, s"geostore create answered $code")
    "\"gfw_geostore_id\":\"([0-9a-f-]+)\"".r
      .findFirstMatchIn(new String(body, "UTF-8")).get.group(1)
  }
}

object Main {

  def sha(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"$x%02x").mkString

  /** Runs `op` on `clients` threads in a closed loop until `seconds`
    * have passed; each thread sends its next request only after the
    * previous one answered. */
  def closedLoop(clients: Int, seconds: Double)(op: Int => Op): Seq[Op] = {
    val ops = new ConcurrentLinkedQueue[Op]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        do ops.add(op(c)) while (System.nanoTime() < deadline)
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    ops.asScala.toSeq
  }

  /** A progress line in the run's log, stamped with seconds since JVM start. */
  def log(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - Counters.jvmStartMs) / 1000.0}%.2f s: $what")

  /** Applies `f` to every item on `threads` threads. */
  def parallel[T](threads: Int, items: Seq[T])(f: T => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try items.map(i => pool.submit(new Runnable { def run(): Unit = f(i) })).foreach(_.get)
    finally pool.shutdown()
  }

  /** Times one call; a thrown exception is a failed operation. */
  def timed(ctx: Ctx, cls: String, key: String)(body: => Boolean): Op = {
    val w = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val ok = try body catch {
      case e: Throwable => ctx.fail(s"$key: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    Op(cls, key, w, (System.nanoTime() - t0) / 1e6, ok)
  }

  def opsJson(ops: Seq[Op]): List[Any] =
    ops.sortBy(_.t0Ms).map(o => Map("cls" -> o.cls, "key" -> o.key,
      "ms" -> o.ms, "ok" -> o.ok)).toList

  /** Process CPU and op records over a measured window. */
  def measured(ctx: Ctx, name: String)(body: => Seq[Op]): Seq[Op] = {
    val cpu0 = Counters.cpuNs
    val t0 = System.nanoTime()
    val ops = body
    ctx.out(name) = Map(
      "wall_s" -> (System.nanoTime() - t0) / 1e9,
      "cpu_ms" -> (Counters.cpuNs - cpu0) / 1e6,
      "ops" -> opsJson(ops))
    ops
  }

  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.LocalTuning(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val plan = graft.geo.Json.parseObject(
      new String(Files.readAllBytes(Paths.get(opt("plan"))), "UTF-8"))
    // host context beside the run, information only
    val contention = new graft.Bench.ContentionSampler
    val spark = session()
    log("session up")
    val ctx = new Ctx(spark, plan, opt("lake"), Paths.get(opt("work")),
      opt("seconds").toDouble, opt("trace") == "1")
    opt("workload") match {
      case "api_mixed" => ApiMixed.run(ctx)
      case "batch_catalog" => BatchCatalog.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (ctx.trace) ctx.probe.writeSpans(ctx.work.resolve("spans.jsonl"))
    val (steal, stealWorst, foreign, foreignWorst) = contention.summary()
    ctx.out("host") = Map("nproc" -> Runtime.getRuntime.availableProcessors,
      "steal_share" -> steal, "worst_10s_steal" -> stealWorst,
      "foreign_share" -> foreign, "worst_10s_foreign" -> foreignWorst)
    ctx.out("rss_peak_mb") = Counters.peakRssMb
    ctx.out("mem_retained_mb") = Counters.retainedMb
    ctx.out("failures") = ctx.failures.asScala.toList.take(50)
    ctx.out("failed_count") = ctx.failures.size
    Files.write(Paths.get(opt("out")),
      graft.geo.Json.write(ctx.out.toMap).getBytes("UTF-8"))
    spark.stop()
    System.exit(0)
  }
}
