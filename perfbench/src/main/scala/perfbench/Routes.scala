package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.catalog.CatalogQueries
import graft.plans.PlanMetrics

/** One catalog route request, as the console's OperatorHub page flow
  * issues them. */
sealed trait Route { def kind: String }
case object ListPackages extends Route { val kind = "listPackages" }
final case class ListSchemas(pkg: String) extends Route { val kind = "listSchemas" }
final case class ListObjects(pkg: String, schema: String) extends Route { val kind = "listObjects" }
final case class GetObject(pkg: String, schema: String, name: String) extends Route { val kind = "getObject" }
final case class GetIcon(pkg: String) extends Route { val kind = "getIcon" }

object Route {
  val Kinds: Seq[String] = Seq("listPackages", "listSchemas", "listObjects", "getObject", "getIcon")

  /** Whether `rows` is the answer `truth` gives for `r`: order, blob
    * bytes, icon bytes, the `.json` strip, `__global` and the empty
    * answer of the 404 path. */
  def matches(r: Route, rows: Array[Row], truth: Truth): Boolean = r match {
    case ListPackages => rows.map(_.getString(0)).toVector == truth.packages
    case ListSchemas(p) => rows.map(_.getString(0)).toVector == truth.schemas(p)
    case ListObjects(p, s) => rows.map(_.getString(0)).toVector == truth.objects(p, s)
    case GetObject(p, s, n) => rows.map(_.getString(0)).toVector == truth.blob(p, s, n)
    case GetIcon(p) =>
      (rows.toSeq, truth.icon(p)) match {
        case (Seq(), None) => true
        case (Seq(row), Some((mt, data))) =>
          row.getString(0) == mt && java.util.Arrays.equals(row.getAs[Array[Byte]](1), data)
        case _ => false
      }
  }
}

/** Seeded request mix: 40% getIcon, 20% getObject, 20% listObjects, 10%
  * listSchemas, 10% listPackages; packages drawn Zipf-skewed by their
  * order in the catalog; one request in twenty aims at a missing key (the
  * 404 path). The mix is exact in every block of twenty requests, in
  * seeded order, so short runs see the same proportions. */
final class RequestGen(seed: Long, truth: Truth) {
  private val r = new SplittableRandom(seed)
  private val pkgs = truth.recs.collect { case x if x.schema == CatalogGen.Package => x.key }.toArray
  private val cdf = {
    val w = pkgs.indices.map(i => 1.0 / (i + 1))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  private val Block: Array[String] = Array.fill(2)(
    Seq.fill(4)("getIcon") ++ Seq.fill(2)("getObject") ++ Seq.fill(2)("listObjects") ++
      Seq("listSchemas", "listPackages")).flatten
  private var block: Array[String] = Array.empty
  private var missAt = -1
  private var pos = 0

  private def shuffle[A](a: Array[A]): Array[A] = {
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  private def zipfPkg(): String = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    pkgs(math.min(pkgs.length - 1, if (i >= 0) i else -i - 1))
  }

  def next(): Route = {
    if (pos == block.length) {
      block = shuffle(Block.clone()); pos = 0
      // ListPackages takes no key, so the miss lands on a slot that does
      val keyed = block.indices.filter(block(_) != "listPackages")
      missAt = keyed(r.nextInt(keyed.size))
    }
    val kind = block(pos)
    val miss = pos == missAt
    pos += 1
    val pkg = if (miss && kind != "getObject") s"missing-${r.nextInt(1000)}" else zipfPkg()
    kind match {
      case "getIcon" => GetIcon(pkg)
      case "getObject" =>
        val names = truth.names(pkg, CatalogGen.Bundle)
        GetObject(pkg, CatalogGen.Bundle,
          if (miss) s"no-such-bundle-${r.nextInt(1000)}" else names(r.nextInt(names.size)))
      case "listObjects" => ListObjects(pkg, CatalogGen.Bundle)
      case "listSchemas" => ListSchemas(pkg)
      case _ => ListPackages
    }
  }
}

/** Result of one route call, with its phase timings (nanoseconds) and the
  * executed plan's scan metrics. */
final case class RouteResult(rows: Array[Row], forRootNs: Long, planNs: Long,
    collectNs: Long, filesRead: Long, rowsScanned: Long)

/** Answers routes by calling the catalog's public functions: resolve the
  * active snapshot, build and plan the route query, collect. */
final class Router(spark: SparkSession, root: String, tracer: Tracer) {

  private def build(r: Route, meta: DataFrame): DataFrame = r match {
    case ListPackages => CatalogQueries.listPackages(meta)
    case ListSchemas(p) => CatalogQueries.listSchemas(meta, p)
    case ListObjects(p, s) => CatalogQueries.listObjects(meta, p, s)
    case GetObject(p, s, n) => CatalogQueries.getObject(meta, p, s, n)
    case GetIcon(p) => CatalogQueries.getIcon(meta, p)
  }

  def call(r: Route): RouteResult = {
    val t0 = System.nanoTime()
    val meta = tracer.span("catalog.forRoot") { CatalogQueries.forRoot(spark, root) }
    val t1 = System.nanoTime()
    val df = tracer.span(s"catalog.${r.kind}.plan") {
      val d = build(r, meta); d.queryExecution.executedPlan; d
    }
    val t2 = System.nanoTime()
    val rows = tracer.span(s"catalog.${r.kind}.collect") { df.collect() }
    val t3 = System.nanoTime()
    val scans = PlanMetrics.allNodes(PlanMetrics.finalPlan(df)).collect {
      case s: FileSourceScanExec => s
    }
    def metric(name: String): Long =
      scans.flatMap(_.metrics.get(name)).map(_.value).sum
    RouteResult(rows, t1 - t0, t2 - t1, t3 - t2, metric("numFiles"), metric("numOutputRows"))
  }
}
