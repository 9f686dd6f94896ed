package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import graft.catalog.{Asset, AssetType, Version}
import graft.etl.VersionCreation

/** Writes beside reads: a writer creates, polls and retires vector
  * versions built from seeded NDJSON files, while AOI reads query the
  * newest saved version through the AOI splice and the streaming
  * download. */
final class Ingest(ctx: Ctx, gids: Map[String, String]) {
  import Ingest._

  val files: IndexedSeq[Src] = ctx.list("files").map { m =>
    val o = m.asInstanceOf[Map[String, Any]]
    Src(o("path").toString, o("bytes").asInstanceOf[Double].toLong)
  }.toIndexedSeq

  @volatile var newest = 0
  private var created = 0
  private val inFlight = new ConcurrentHashMap[Int, AtomicInteger]()
  private val refs = new ConcurrentHashMap[(String, Int), String]()
  /** Ready time and source size of every version saved in the window. */
  val ingests = new ConcurrentLinkedQueue[Map[String, Any]]()
  /** First answer to each (read, version): `<key>@v<version>` -> body. */
  val bodies = new ConcurrentHashMap[String, String]()

  def source(v: Int): Src = files((v - 1) % files.size)

  /** One version: PUT, poll until saved, retire the one two back. */
  def ingest(): Op = {
    created += 1
    val v = created
    val op = Main.timed(ctx, "ingest", s"v$v") {
      val (code, _) = Http.send("PUT", s"/dataset/$Dataset/v$v", creation(source(v)))
      var status = if (code == 202) "pending" else s"http $code"
      while (status == "pending") {
        Thread.sleep(10)
        val body = new String(Http.get(s"/dataset/$Dataset/v$v")._2, "UTF-8")
        status = "\"status\":\"(\\w+)\"".r.findFirstMatchIn(body).map(_.group(1))
          .getOrElse("missing")
      }
      status == "saved" || ctx.fail(s"v$v: version ended $status")
    }
    if (op.ok) {
      ingests.add(Map("version" -> v, "ms" -> op.ms, "bytes" -> source(v).bytes))
      inFlight.put(v, new AtomicInteger)
      newest = v
      Option(inFlight.get(v - 2)).foreach { n =>
        inFlight.remove(v - 2)
        while (n.get() > 0) Thread.sleep(1)
        val (dc, _) = Http.send("DELETE", s"/dataset/$Dataset/v${v - 2}")
        if (dc != 200) ctx.fail(s"v${v - 2}: delete answered $dc")
      }
    }
    op
  }

  /** An AOI read of the newest saved version, pinned against retirement
    * while it runs. */
  def read(r: Req): Op = {
    var v = 0
    var n: AtomicInteger = null
    while (n == null) {
      v = newest
      n = inFlight.get(v)
      if (n != null) {
        n.incrementAndGet()
        if (inFlight.get(v) ne n) { n.decrementAndGet(); n = null }
      }
    }
    try Main.timed(ctx, "aoi_read", s"${r.key}@v$v") {
      val (code, body) = Http.get(readPath(r, v))
      val h = Main.sha(body)
      val first = refs.putIfAbsent((r.key, v), h)
      if (first == null) bodies.put(s"${r.key}@v$v", new String(body, "UTF-8"))
      if (code != 200) ctx.fail(s"${r.key}@v$v: status $code")
      else if (first != null && first != h)
        ctx.fail(s"${r.key}@v$v: answer bytes differ from the first answer")
      else true
    } finally n.decrementAndGet()
  }

  def readPath(r: Req, v: Int): String = {
    val route = if (r.fmt == "aoi_csv") "download_by_aoi/csv" else "query/json"
    s"/dataset/$Dataset/v$v/$route?geostore_id=${gids(r.aoi)}&sql=${enc(r.sql)}"
  }

  /** Runs `body` while a writer thread ingests version after version. */
  def withWriter[T](ops: ConcurrentLinkedQueue[Op])(body: => T): T = {
    val stop = new AtomicBoolean(false)
    val writer = new Thread(() => while (!stop.get()) ops.add(ingest()), "perfbench-writer")
    writer.start()
    try body finally { stop.set(true); writer.join() }
  }

  /** Traced ingest: the version over HTTP, then `VersionCreation.createTable`
    * on the same source in a span. Returns (ready ms, create ms, bytes
    * written / source bytes, files written). */
  def replay(tr: Int): (Op, (Double, Double, Double, Double)) = {
    val op = ingest()
    val src = source(newest)
    val target = ctx.work.resolve(s"replay_v$newest")
    val opts = VersionCreation.CreationOptions.fromJson(Map(
      "source_uri" -> List(s"file://${src.path}"), "source_type" -> "vector"))
    val t0 = System.nanoTime()
    ctx.probe.span(tr, 0, "direct") { root =>
      ctx.probe.span(tr, root, "etl.create")(_ =>
        VersionCreation.createTable(ctx.spark, "bench_replay", s"v$newest", opts,
          target.toString))
    }
    val createMs = (System.nanoTime() - t0) / 1e6
    val written = java.nio.file.Files.walk(target).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_)).toSeq
    (op, (op.ms, createMs, written.map(java.nio.file.Files.size).sum.toDouble / src.bytes,
      written.size.toDouble))
  }

  /** The catalog entry the server registers for a saved version. */
  def version(v: Int): Version = Version(Dataset, s"v$v", isLatest = true,
    sourceType = "vector",
    assets = Seq(Asset(s"$Dataset-v$v", AssetType.GeoDatabaseTable, s"v$v", isDefault = true)))
}

object Ingest {
  val Dataset = "bench_ingest"

  final case class Src(path: String, bytes: Long)

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8").replace("+", "%20")

  private def creation(src: Src): String =
    s"""{"creation_options": {"source_uri": ["file://${src.path}"], "source_type": "vector"}}"""
}
