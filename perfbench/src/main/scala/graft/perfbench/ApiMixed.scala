package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.api.ApiServer
import graft.etl.VersionCreation

/** The API under a mixed load: four closed-loop clients read through both
  * query engines (tabular SQL, OTF raster SQL, zonal, AOI reads of the
  * newest ingested version, gate rejections) while one writer ingests
  * vector versions. */
object ApiMixed {
  import Layers.median

  def run(ctx: Ctx): Unit = {
    val server = new ApiServer(ctx.spark, ctx.lake, adminTokens = Set(Http.AdminToken))
    Http.port = server.start()
    Main.log("server up")
    val aoiJson = ctx.obj("aois").map { case (k, v) => k -> v.toString }
    val gids = aoiJson.map { case (k, gj) => k -> Http.geostore(gj) }
    val pool = ctx.list("pool").map(m => Req.of(m.asInstanceOf[Map[String, Any]], gids))
      .toIndexedSeq
    val seq = ctx.list("sequence").map(_.asInstanceOf[Double].toInt).toIndexedSeq
    val ingest = new Ingest(ctx, gids)
    ingest.ingest()
    Main.log("first version")

    // The first answer to every request is its reference: the oracle
    // check runs on it, and every later answer must repeat it byte for
    // byte. AOI reads keep one reference per version (Ingest.read).
    val refs = new ConcurrentHashMap[String, (Int, String)]()
    val bodies = new ConcurrentHashMap[String, Map[String, Any]]()
    Main.parallel(4, pool) { r =>
      if (r.kind == "aoi_read") ingest.read(r)
      else {
        val (code, body) = Http.get(r.path)
        refs.put(r.key, (code, Main.sha(body)))
        bodies.put(r.key, Map("status" -> code, "body" -> new String(body, "UTF-8")))
      }
    }
    Main.log("reference answers")

    def one(r: Req): Op =
      if (r.kind == "aoi_read") ingest.read(r)
      else Main.timed(ctx, r.cls, r.key) {
        val (code, body) = Http.get(r.path)
        val (rc, rh) = refs.get(r.key)
        if (code != r.expected || rc != r.expected)
          ctx.fail(s"${r.key}: status $code, expected ${r.expected}")
        else if (Main.sha(body) != rh)
          ctx.fail(s"${r.key}: answer bytes differ from the first answer: " +
            new String(body, "UTF-8").take(400))
        else true
      }
    val cursor = new AtomicInteger
    def next(): Req = pool(seq(cursor.getAndIncrement() % seq.size))
    def loop(clients: Int, seconds: Double): Seq[Op] = {
      val writes = new ConcurrentLinkedQueue[Op]()
      val reads = ingest.withWriter(writes)(Main.closedLoop(clients, seconds)(_ => one(next())))
      reads ++ writes.asScala
    }
    def alone(seconds: Double): Seq[Op] = Main.closedLoop(1, seconds)(_ => one(next()))

    loop(4, 1.5) // warm-up: JIT, codegen caches, Spark's first-use costs
    cursor.set(0)
    ingest.ingests.clear()
    ctx.out("setup_s") = (System.currentTimeMillis() - Counters.jvmStartMs) / 1000.0
    Main.log("warm")
    if (!ctx.trace) Main.measured(ctx, "loaded")(loop(4, ctx.seconds))
    else {
      val third = ctx.seconds / 3
      Main.measured(ctx, "loaded")(loop(4, third))
      cursor.set(0)
      Main.measured(ctx, "single")(alone(third))
      cursor.set(0)
      traced(ctx, ingest, aoiJson, () => next(), third)
    }
    ctx.out("responses") = bodies.asScala.toMap
    ctx.out("aoi_responses") = ingest.bodies.asScala.toMap
    ctx.out("ingests") = ingest.ingests.asScala.toList
    server.stop()
  }

  /** Single client, no writer thread (as in the untraced single-client
    * part, so the two differ only by tracing): each request over HTTP, then its
    * direct path in spans, so every Spark job in the request's window
    * belongs to it. Every eighth operation is an ingest, replayed
    * through `VersionCreation.createTable`. */
  def traced(ctx: Ctx, ingest: Ingest, aois: Map[String, String], next: () => Req,
             seconds: Double): Unit = {
    val direct = new DirectPath(ctx, aois)
    val quads = Layers.quads(ctx)
    val etl = Seq.newBuilder[(Double, Double, Double, Double)]
    ctx.probe.install()
    val recs = Layers.tracedLoop(ctx, seconds) { tr =>
      if (tr % 8 == 1) {
        val (op, e) = ingest.replay(tr)
        etl += e
        Seq(Layers.Rec(tr, op, 0, Map.empty))
      } else {
        val r = next()
        val (http, bytes) = if (r.kind == "aoi_read") {
          val v = ingest.newest
          direct.catalog = direct.catalog.withVersion(Ingest.Dataset, ingest.version(v))
          (ingest.read(r), direct.tabular(tr, VersionCreation.viewName(Ingest.Dataset, s"v$v"),
            Ingest.Dataset, s"v$v", r.sql, Some(aois(r.aoi)), r.fmt))
        } else {
          val op = Main.timed(ctx, r.cls, r.key)(Http.get(r.path)._1 == r.expected)
          (op, if (r.cls == "raster") direct.raster(tr, r)
               else direct.tabular(tr, r.dataset, r.dataset, r.version, r.sql, None, r.fmt))
        }
        val extra = if (r.cls == "raster") Layers.tiles(quads(r.aoi)) else Map.empty[String, Double]
        Seq(Layers.Rec(tr, http, bytes, extra))
      }
    }
    ctx.probe.remove()
    val e = etl.result()
    Layers.report(ctx, recs.filter(_.op.cls != "ingest"), Map(
      "etl.create_s" -> median(e.map(_._2 / 1000.0)),
      "etl.write_amp" -> median(e.map(_._3)),
      "etl.files" -> median(e.map(_._4)),
      "jobs.wait_ms" -> median(e.map(x => x._1 - x._2))))
  }
}
