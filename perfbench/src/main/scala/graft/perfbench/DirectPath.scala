package graft.perfbench

import graft.catalog.{Asset, AssetType, Catalog, Dataset, Version}
import graft.raster.{DataEnvironment, RasterSql, SyntheticRasters, TileLake, ZonalEngine}
import graft.sinks.Sinks
import graft.sqlgate.{Scrutinizer, TabularEngine}
import org.apache.spark.sql.DataFrame

/** A pool entry of the seeded read mix; kind is `tabular`, `raster`,
  * `zonal`, `aoi_read` or `rejected`. */
final case class Req(key: String, kind: String, dataset: String, version: String,
                     fmt: String, sql: String, aoi: String, tcd: Int, path: String) {
  def cls: String = if (kind == "zonal") "raster" else kind
  def expected: Int = if (kind == "rejected") 400 else 200
}

object Req {
  def of(m: Map[String, Any], gids: Map[String, String]): Req = {
    def s(k: String) = m.get(k).map(_.toString).getOrElse("")
    val path = gids.foldLeft(s("path")) { case (p, (a, g)) => p.replace(s"{$a}", g) }
    Req(s("key"), s("kind"), s("dataset"), s("version"), s("fmt"), s("sql"), s("aoi"),
      m.get("tcd").map(_.asInstanceOf[Double].toInt).getOrElse(0), path)
  }
}

/** Replays what the HTTP handlers do through the layers' public calls,
  * each inside a span, so a traced request splits into layer times. */
final class DirectPath(ctx: Ctx, aois: Map[String, String]) {
  private val spark = ctx.spark
  private val probe = ctx.probe
  private val maxRows = sys.env.getOrElse("GRAFT_MAX_QUERY_ROWS", "100000").toInt

  /** The lake and raster datasets the server registers at start. */
  @volatile var catalog: Catalog = new Catalog(graft.Tables.all.map { t =>
    Dataset(t, Seq(Version(t, "v1", isLatest = true, assets = Seq(
      Asset(s"$t-a1", AssetType.DatabaseTable, s"${ctx.lake}/$t.parquet", isDefault = true)))))
  } ++ SyntheticRasters.datasets)

  /** fmt is the route's sink: `json`, `csv`, or `aoi_csv` (the
    * streaming download). */
  private def catalystAndSink(tr: Int, root: Int, df: DataFrame, fmt: String): Int = {
    probe.span(tr, root, "catalyst.optimize")(_ => df.queryExecution.optimizedPlan)
    probe.span(tr, root, "catalyst.plan")(_ => df.queryExecution.executedPlan)
    probe.span(tr, root, "sinks") { _ =>
      fmt match {
        case "json" => Sinks.toJsend(df).length
        case "csv" => Sinks.toCsv(df).length
        case _ =>
          val out = new java.io.ByteArrayOutputStream
          Sinks.streamCsv(df, out)
          out.size
      }
    }
  }

  /** Tabular path: engine routing, gate, function check, Catalyst
    * phases, sink. Returns the payload size in bytes, or -1 when the
    * gate rejected the query. */
  def tabular(tr: Int, table: String, dataset: String, version: String,
              sql: String, aoi: Option[String], fmt: String): Int =
    probe.span(tr, 0, "direct") { root =>
      probe.span(tr, root, "api.catalog")(_ => catalog.queryEngine(dataset, version))
      val rewritten =
        try probe.span(tr, root, "sqlgate.scrutinize")(_ =>
          Scrutinizer.scrutinizeTo(table, aoi, sql))
        catch { case scala.util.control.NonFatal(_) => return -1 }
      try probe.span(tr, root, "sqlgate.fncheck")(_ =>
        TabularEngine.checkFunctionsExist(spark, rewritten))
      catch { case scala.util.control.NonFatal(_) => return -1 }
      val df = probe.span(tr, root, "catalyst.analyze") { _ =>
        val q = spark.sql(rewritten)
        if (fmt == "aoi_csv") q else q.limit(maxRows)
      }
      catalystAndSink(tr, root, df, fmt)
    }

  /** Raster path: data environment, raster SQL compile, the zonal
    * engine's DataFrame build, Catalyst phases, sink. */
  def raster(tr: Int, r: Req): Int = probe.span(tr, 0, "direct") { root =>
    val gj = aois(r.aoi)
    probe.span(tr, root, "api.catalog")(_ => catalog.queryEngine(r.dataset, r.version))
    val df = if (r.kind == "zonal") {
      probe.span(tr, root, "raster.build")(_ => ZonalEngine.run(spark,
        ZonalEngine.Request(aoiGeoJson = gj, tcdThreshold = Some(r.tcd))))
    } else {
      val grid = catalog.resolveVersions(Seq(r.dataset), Map.empty)(r.dataset)
        .flatMap(_.defaultAsset.filter(_.assetType == AssetType.RasterTileSet))
        .map(a => DataEnvironment.gridOf(a.creationOptions))
      val env = probe.span(tr, root, "raster.env")(_ =>
        DataEnvironment.cached(catalog, TileLake.defaultDir, Map.empty, grid))
      val layer = env.defaultLayers(r.dataset)
      probe.span(tr, root, "raster.compile")(_ => RasterSql.compile(
        r.sql.replaceAll("(?i)from \\w+", s"from $layer"), env))
      probe.span(tr, root, "raster.build")(_ =>
        ZonalEngine.runSql(spark, catalog, r.dataset, r.sql, gj).limit(maxRows))
    }
    catalystAndSink(tr, root, df, "json")
  }
}
