package graft.perfbench

import scala.jdk.CollectionConverters._

/** Per-layer numbers of a traced run, derived from the probe's spans and
  * from the Spark activity inside each operation's window. */
object Layers {

  /** One traced operation: the HTTP (or whole-call) op, the payload
    * size its direct replay produced, and layer-specific extras. */
  final case class Rec(trace: Int, op: Op, bytes: Int, extra: Map[String, Double])

  /** Calls `one` with trace ids 1, 2, ... until `seconds` have passed
    * (at least once), and records codegen and GC work per operation. */
  def tracedLoop(ctx: Ctx, seconds: Double)(one: Int => Seq[Rec]): Seq[Rec] = {
    val recs = Seq.newBuilder[Rec]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var tr = 1
    val cg0 = Counters.codegenCompiles
    val cgNs0 = Counters.codegenNs
    val gc0 = Counters.gcMs
    while (System.nanoTime() < deadline || tr == 1) {
      try recs ++= one(tr)
      catch { case e: Throwable => ctx.fail(s"traced op $tr: ${e.getMessage}") }
      tr += 1
    }
    val out = recs.result()
    val n = math.max(1, out.size).toDouble
    ctx.out("traced_counters") = Map(
      "codegen.compiles" -> (Counters.codegenCompiles - cg0) / n,
      "codegen.compile_ms" -> (Counters.codegenNs - cgNs0) / 1e6 / n,
      "jvm.gc_ms" -> (Counters.gcMs - gc0) / n)
    out
  }

  private def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }

  /** Aggregates spans and windows into the per-layer metric map. */
  def report(ctx: Ctx, recs: Seq[Rec], more: Map[String, Double] = Map.empty): Unit = {
    val probe = ctx.probe
    val byTrace = probe.spans.asScala.toSeq.groupBy(_.trace)
    def spanMs(r: Rec, name: String): Option[Double] =
      byTrace.getOrElse(r.trace, Nil).filter(_.name == name).map(_.ms)
        .reduceOption(_ + _)
    def perOp(name: String, rs: Seq[Rec]): Double = mean(rs.flatMap(spanMs(_, name)))
    val reads = recs.filter(_.op.cls != "rejected")
    val rasters = recs.filter(_.op.cls == "raster")
    val wins = recs.map(r => probe.window(r.op.t0Ms, r.op.t0Ms + math.ceil(r.op.ms).toLong))
    val sinkRows = recs.flatMap { r =>
      byTrace.getOrElse(r.trace, Nil).filter(_.name == "sinks").map { s =>
        val w = probe.window(s.t0Ms, s.t0Ms + math.ceil(s.ms).toLong)
        (s.ms, math.max(0.0, s.ms - w.jobMs), r.bytes.toDouble)
      }
    }
    val scanned = rasters.map(_.extra.getOrElse("tiles", 0.0))
    val hit = rasters.map(_.extra.getOrElse("hit", 0.0))
    val usedMb = ctx.spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, rem) => (max - rem).toDouble }.sum / (1 << 20)
    val views = ctx.spark.catalog.listTables().collect().count(_.isTemporary)
    val layers = Map[String, Double](
      "api.self_ms" -> median(reads.flatMap(r => spanMs(r, "direct").map(r.op.ms - _))),
      "api.reject_ms" -> median(recs.filter(_.op.cls == "rejected").map(_.op.ms)),
      "sqlgate.scrutinize_ms" -> perOp("sqlgate.scrutinize", recs),
      "sqlgate.fncheck_ms" -> perOp("sqlgate.fncheck", recs),
      "catalyst.analyze_ms" -> perOp("catalyst.analyze", reads),
      "catalyst.optimize_ms" -> perOp("catalyst.optimize", reads),
      "catalyst.plan_ms" -> perOp("catalyst.plan", reads),
      "exec.jobs" -> mean(wins.map(_.jobs.size.toDouble)),
      "exec.stages" -> mean(wins.map(_.jobs.map(_.stages.toDouble).sum)),
      "exec.tasks" -> mean(wins.map(_.tasks.size.toDouble)),
      "exec.job_ms" -> mean(wins.map(_.jobMs)),
      "exec.task_cpu_ms" -> mean(wins.map(_.tasks.map(_.cpuNs / 1e6).sum)),
      "exec.input_kb" -> mean(wins.map(_.tasks.map(_.inputB / 1024.0).sum)),
      "exec.shuffle_kb" -> mean(wins.map(_.tasks.map(_.shuffleB / 1024.0).sum)),
      "exec.spill_kb" -> mean(wins.map(_.tasks.map(_.spillB / 1024.0).sum)),
      "raster.build_ms" -> perOp("raster.build", rasters),
      "raster.env_ms" -> perOp("raster.env", rasters),
      "raster.compile_ms" -> perOp("raster.compile", rasters),
      "raster.tiles_scanned" -> mean(scanned),
      "raster.tile_yield" -> (if (scanned.sum > 0) hit.sum / scanned.sum else 0.0),
      "sinks.encode_ms" -> mean(sinkRows.map(_._2)),
      "sinks.stream_mb_s" -> (if (sinkRows.nonEmpty && sinkRows.map(_._1).sum > 0)
        sinkRows.map(_._3).sum / (1 << 20) / (sinkRows.map(_._1).sum / 1000.0) else 0.0),
      "blocks.mem_mb_end" -> usedMb,
      "views.count_end" -> views.toDouble
    ) ++ ctx.out.get("traced_counters").map(_.asInstanceOf[Map[String, Double]])
      .getOrElse(Map.empty) ++ more
    ctx.out("layers") = layers
    ctx.out("traced") = Main.opsJson(recs.map(_.op))
  }

  /** AOI quads from the plan: name -> vertices. */
  def quads(ctx: Ctx): Map[String, Seq[(Double, Double)]] =
    ctx.obj("quads").map { case (k, v) =>
      k -> v.asInstanceOf[List[Any]].map { p =>
        val xy = p.asInstanceOf[List[Any]].map(_.asInstanceOf[Double])
        (xy(0), xy(1))
      }
    }

  private def inside(q: Seq[(Double, Double)], x: Double, y: Double): Boolean = {
    // convex, counter-clockwise: left of every edge
    q.zip(q.tail :+ q.head).forall { case ((x1, y1), (x2, y2)) =>
      (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1) >= 0
    }
  }

  /** Tiles the zonal engine scans for a quad (its bbox pruning set) and
    * how many of them hold at least one pixel centre inside it. */
  def tiles(q: Seq[(Double, Double)]): Map[String, Double] = {
    val g = graft.raster.SyntheticEnv.grid
    val ids = graft.raster.TileLake.tileIdsForBbox(g, q.map(_._1).min, q.map(_._2).min,
      q.map(_._1).max, q.map(_._2).max)
    val hit = (0 until g.tilesX).flatMap(tx => (0 until g.tilesY).map(ty => (tx, ty)))
      .filter { case (tx, ty) => ids.contains(g.tileId(tx, ty)) }
      .count { case (tx, ty) =>
        (0 until g.pxPerTile).exists { i =>
          val x = g.originLon + (tx * g.pxPerTile + i + 0.5) * g.pixelDeg
          (0 until g.pxPerTile).exists { j =>
            inside(q, x, g.originLat - (ty * g.pxPerTile + j + 0.5) * g.pixelDeg)
          }
        }
      }
    Map("tiles" -> ids.size.toDouble, "hit" -> hit.toDouble)
  }
}
