package graft.perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection

/** A fixed set of registry queries, serial, no HTTP. Every query is
  * drained in full: all of its rows, every column, folded into an
  * order-free hash (a `count()` would let Catalyst prune the columns
  * the query exists to compute). */
object BatchCatalog {

  /** (hash, rows) of the query's complete result. */
  def drain(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var h = 0L
      var n = 0L
      it.foreach { r =>
        val u = proj(r)
        h += (u.hashCode.toLong & 0xffffffffL) * 0x9E3779B97F4A7C15L + u.getSizeInBytes
        n += 1
      }
      Iterator((h, n))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    graft.Tables.register(spark, ctx.lake)
    val names = ctx.list("queries").map(_.toString)
    val fns = names.map(n => n -> SparkEntry.queries(n))
    ctx.out("oracles") = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap

    // cold pass: every answer is dumped for the oracle check, and the
    // dump's hash becomes the reference each later answer must match
    val golden = fns.map { case (n, fn) =>
      val t0 = System.nanoTime()
      val dump = ctx.work.resolve(s"dumps/$n").toString
      fn(spark, ctx.lake).coalesce(1).write.mode("overwrite").parquet(dump)
      Main.log(f"cold $n ${(System.nanoTime() - t0) / 1e9}%.2f s")
      n -> drain(spark.read.parquet(dump))
    }.toMap

    def one(n: String, fn: (SparkSession, String) => DataFrame): Boolean = {
      val t0 = System.nanoTime()
      val ok = drain(fn(spark, ctx.lake)) == golden(n) ||
        ctx.fail(s"$n: answer hash differs from the first pass")
      Main.log(f"$n ${(System.nanoTime() - t0) / 1e9}%.2f s")
      ok
    }
    /** Whole passes over the set until `seconds` have passed; one pass
      * is one operation. */
    def passes(seconds: Double): Seq[Op] = {
      val ops = Seq.newBuilder[Op]
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      do ops += Main.timed(ctx, "pass", "pass")(fns.map { case (n, fn) => one(n, fn) }.forall(identity))
      while (System.nanoTime() < deadline)
      ops.result()
    }
    // warm-up runs until times settle: two warm passes after the cold one
    passes(0); passes(0)
    Main.log("warm")

    ctx.out("setup_s") = (System.currentTimeMillis() - Counters.jvmStartMs) / 1000.0
    if (!ctx.trace) Main.measured(ctx, "loaded")(passes(ctx.seconds))
    else {
      Main.measured(ctx, "loaded")(passes(ctx.seconds / 2))
      traced(ctx, fns)
    }
  }

  /** One pass in spans: construction (`SparkEntry.queries(q)(…)`, with
    * any eager jobs it runs), Catalyst's three phases, then execution. */
  def traced(ctx: Ctx, fns: Seq[(String, (SparkSession, String) => DataFrame)]): Unit = {
    val probe = ctx.probe
    probe.install()
    val recs = Layers.tracedLoop(ctx, 0) { _ =>
      fns.zipWithIndex.map { case ((n, fn), i) =>
        val tr = i + 1
        System.gc() // keep collector pauses out of the query's spans
        val w0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val df = probe.span(tr, 0, "construct")(_ => fn(ctx.spark, ctx.lake))
        val qe = df.queryExecution
        probe.span(tr, 0, "catalyst.analyze")(_ => qe.analyzed)
        probe.span(tr, 0, "catalyst.optimize")(_ => qe.optimizedPlan)
        probe.span(tr, 0, "catalyst.plan")(_ => qe.executedPlan)
        probe.span(tr, 0, "exec")(_ => drain(df))
        Layers.Rec(tr, Op("query", n, w0, (System.nanoTime() - t0) / 1e6, ok = true), 0,
          Map.empty)
      }
    }
    probe.remove()
    val spans = scala.jdk.CollectionConverters.CollectionHasAsScala(probe.spans).asScala
      .toSeq.groupBy(_.trace)
    def ms(r: Layers.Rec, name: String) =
      spans.getOrElse(r.trace, Nil).filter(_.name == name).map(_.ms).sum
    val construct = recs.map { r =>
      val s = spans(r.trace).find(_.name == "construct").get
      (r, s, probe.window(s.t0Ms, s.t0Ms + math.ceil(s.ms).toLong))
    }
    // share of each query's wall the three layers' spans account for
    val cover = recs.map(r => Seq("construct", "catalyst.analyze", "catalyst.optimize",
      "catalyst.plan", "exec").map(ms(r, _)).sum / r.op.ms)
    ctx.out("span_cover") = recs.zip(cover).map { case (r, c) => r.op.key -> c }.toMap
    Layers.report(ctx, recs, Map(
      "batch.construct_s" -> construct.map(_._2.ms / 1000).sum,
      "batch.eager_jobs" -> construct.map(_._3.jobs.size.toDouble).sum) ++
      recs.flatMap(r => Seq(s"construct_s.${r.op.key}" -> ms(r, "construct") / 1000,
        s"exec_s.${r.op.key}" -> ms(r, "exec") / 1000)))
  }
}
