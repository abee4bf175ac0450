package perfbench

import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.catalog.FbcIngest

/** Per-layer figures of the route calls of one measured phase. */
final class RouteLayer {
  val forRoot, plan, collect = new Samples
  val byKind: Map[String, Samples] = Route.Kinds.map(_ -> new Samples).toMap
  val filesRead, rowsScanned, rowsReturned, calls = new AtomicLong()

  def record(r: Route, x: RouteResult): Unit = {
    forRoot.add(Stats.millis(x.forRootNs)); plan.add(Stats.millis(x.planNs))
    collect.add(Stats.millis(x.collectNs))
    byKind(r.kind).add(Stats.millis(x.planNs + x.collectNs))
    filesRead.addAndGet(x.filesRead); rowsScanned.addAndGet(x.rowsScanned)
    rowsReturned.addAndGet(x.rows.length.toLong)
    calls.incrementAndGet()
  }

  def metrics: Map[String, (Double, String)] = Map(
    "catalog.forRoot_ms" -> (forRoot.median, "ms"),
    "catalog.plan_ms" -> (plan.median, "ms"),
    "catalog.collect_ms" -> (collect.median, "ms"),
    "catalog.files_read_per_route" -> (filesRead.get.toDouble / math.max(1L, calls.get), "count"),
    "catalog.rows_scanned_per_row_returned" ->
      (rowsScanned.get.toDouble / math.max(1L, rowsReturned.get), "ratio")
  ) ++ Route.Kinds.map(k => s"catalog.${k}_ms" -> (byKind(k).median, "ms"))
}

/** The `serve` and `refresh` workloads: the catalog's ETL-and-serve loop
  * driven through `graft.catalog`'s public functions. */
final class CatalogWorkloads(spark: SparkSession, ctx: Ctx, tracer: Tracer) {
  import Stats._

  val shape = CatalogShape(packages = 48, maxBundles = 60, blobMinKb = 2,
    blobMaxKb = 12, iconShare = 0.7, globals = 4, jsonShare = 0.01, deltaShare = 0.05)
  val SetupReps = 5
  val WarmUpSeconds = 8.0
  /** How long the reader may keep going after the writer's last cycle to
    * see the deltas it has not served yet. */
  val DrainSeconds = 20.0

  private val sourceDir = ctx.runDir.resolve("source")
  private val stagingDir = ctx.runDir.resolve("staging")
  private val rootPath = ctx.runDir.resolve("catalog")
  private val root = rootPath.toString
  private val router = new Router(spark, root, tracer)
  private val writeSnapshotS = mutable.ArrayBuffer[Double]()

  private def sourceWatermark(): Long = {
    val s = Files.list(sourceDir)
    try s.mapToLong(f => Files.getLastModifiedTime(f).toMillis).max.orElse(0L)
    finally s.close()
  }

  /** Generation and the first publish, repeated into fresh directories;
    * the last repetition is the one served. Returns the median time and
    * the base catalog's truth. */
  private def setup(): (Double, Truth) = {
    var truth: Truth = null
    val reps = (0 until SetupReps).map { _ =>
      deleteTree(sourceDir); deleteTree(rootPath)
      val (_, ns) = timed {
        truth = CatalogGen.catalog(ctx.seed, shape)
        Files.createDirectories(sourceDir)
        Files.write(sourceDir.resolve("catalog-base.json"), CatalogGen.lines(truth.recs))
        val (_, w) = timed {
          FbcIngest.writeSnapshot(spark,
            FbcIngest.readMetaStream(spark, sourceDir.toString), root,
            sourceWatermark = sourceWatermark())
        }
        writeSnapshotS += seconds(w)
      }
      seconds(ns)
    }
    System.err.println(f"[perfbench] set-up repetitions ${reps.mkString(" ")} s")
    (median(reps), truth)
  }

  /** One checked route call; `accept` gives the catalog versions whose
    * answer is correct for it once it has completed. Returns the rows of
    * a correct answer. */
  private def request(r: Route, accept: () => Seq[Truth], lat: Samples,
      layer: RouteLayer): Option[Array[Row]] = {
    val t0 = System.nanoTime()
    val res = tracer.request("bench.route", "route") {
      attempt(s"route $r")(router.call(r))
    }
    val ok = res.filter(x => accept().exists(Route.matches(r, x.rows, _)))
    ok match {
      case Some(x) =>
        lat.add(millis(System.nanoTime() - t0))
        layer.record(r, x)
      case None =>
        System.err.println(s"[perfbench] wrong or failed answer: $r")
        lat.fail()
    }
    ok.map(_.rows)
  }

  /** One checked request of each kind, then a few seconds of the serve
    * loop, before timing, so lazy set-up and code generation are done and
    * the JIT has compiled the hot paths. Returns attempts and failures. */
  private def warmUp(truth: Truth, clients: Int): (Long, Long) = {
    val pkg = truth.packages.filter(_ != CatalogGen.Global).head
    val routes = Seq(ListPackages, ListSchemas(pkg), ListObjects(pkg, CatalogGen.Bundle),
      GetObject(pkg, CatalogGen.Bundle, truth.names(pkg, CatalogGen.Bundle).head), GetIcon(pkg))
    val (lat, layer) = (new Samples, new RouteLayer)
    val firstFailed = routes.count(r => request(r, () => Seq(truth), lat, layer).isEmpty)
    val (loop, loopFailed, _) = serveLoop(truth, clients, WarmUpSeconds, 5L, layer)
    (routes.size + loop.size, firstFailed + loopFailed)
  }

  private def snapshotLayer(): Map[String, (Double, String)] = {
    val (bytes, files, dirs) = FbcIngest.activeSnapshot(root)
      .map(a => tree(rootPath.resolve("snapshots").resolve(a._1))).getOrElse((0L, 0L, 0L))
    Map(
      "catalog.writeSnapshot_s" -> (median(writeSnapshotS.toSeq), "s"),
      "catalog.snapshot_files" -> (files.toDouble, "count"),
      "catalog.snapshot_bytes" -> (bytes.toDouble, "B"),
      // the snapshot's own directory is not a partition
      "catalog.partition_dirs" -> (math.max(0L, dirs - 1).toDouble, "count"))
  }

  private def routeMetrics(lat: Samples, wall: Double, failed: Long,
      untracedP50: Option[Double]): Map[String, (Double, String)] = Map(
    "route_p50_ms" -> (lat.median, "ms"),
    "route_p90_ms" -> (lat.p(0.9), "ms"),
    "route_qps" -> ((lat.size - failed) / wall, "1/s"),
    "trace_overhead" -> (untracedP50.map(b => lat.median / b - 1.0).getOrElse(Double.NaN), "ratio"))

  private def e2e(setupS: Double, lat: Samples, wall: Double, failed: Long) = Map(
    "setup_s" -> (setupS, "s"),
    "op_p50_ms" -> (lat.median, "ms"),
    "ops_per_s" -> ((lat.size - failed) / wall, "1/s"))

  /** Closed loop of `clients` threads against one published snapshot
    * for `secs` seconds. Returns latencies, failures and wall seconds. */
  private def serveLoop(truth: Truth, clients: Int, secs: Double, salt: Long,
      layer: RouteLayer): (Samples, Long, Double) = {
    val lat = new Samples
    val failed = new AtomicLong()
    val t0 = System.nanoTime()
    val deadline = t0 + (secs * 1e9).toLong
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        val gen = new RequestGen(ctx.seed * 31 + c + salt, truth)
        while (System.nanoTime() < deadline)
          if (request(gen.next(), () => Seq(truth), lat, layer).isEmpty) failed.incrementAndGet()
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    (lat, failed.get, seconds(System.nanoTime() - t0))
  }

  /** Closed-loop reads of one published snapshot. A traced run then
    * adds the refresh phase, whose writer figures it reports. */
  def serve(): Outcome = {
    val (setupS, truth) = setup()
    val clients = math.min(2, ctx.cores)
    val (warmAttempted, warmFailed) = warmUp(truth, clients)
    // a traced run brackets the traced loop with two untraced half-length
    // loops; their pooled median is the base of trace_overhead
    def untracedLoop(salt: Long): (Seq[Double], Long) =
      if (ctx.trace) {
        val (l, f, _) = serveLoop(truth, clients, ctx.seconds / 2.0, salt, new RouteLayer)
        (l.values, f)
      } else (Nil, 0L)
    val before = untracedLoop(7L)
    val layer = new RouteLayer
    if (ctx.trace) tracer.start()
    val (lat, failed, wall) = serveLoop(truth, clients, ctx.seconds, 0L, layer)
    tracer.stop()
    val after = untracedLoop(9L)
    val bracket = before._1 ++ after._1
    val untraced = Some(bracket).filter(_.nonEmpty).map(median)
    val serveLayers = layer.metrics ++ snapshotLayer() ++
      routeMetrics(lat, wall, failed, untraced) ++ Layers.spark(tracer, wall, ctx.cores, layer.calls.get)
    val (rAttempted, rFailed, writer) =
      if (ctx.trace) refresh(truth) else (0L, 0L, Map.empty[String, (Double, String)])
    val attempted = lat.size + bracket.size + warmAttempted + rAttempted
    val allFailed = failed + before._2 + after._2 + warmFailed + rFailed
    Outcome(attempted, allFailed, e2e(setupS, lat, wall, failed),
      serveLayers ++ writer + ("fail_ratio" -> (allFailed.toDouble / attempted, "ratio")))
  }

  /** Writer-side figures of the refresh cycles. */
  private final class Cycles {
    val incr, publish, noop, gc, fresh, amp = mutable.ArrayBuffer[Double]()
    var failed = 0L
    var attempted = 0L
  }

  /** One writer cycle: append a delta, refresh the incremental table and
    * check it, re-ingest and swap `ACTIVE`, confirm a no-op refresh,
    * garbage-collect old snapshots. */
  private def cycle(c: Int, versions: AtomicReference[Vector[Truth]],
      published: AtomicInteger, pending: java.util.concurrent.ConcurrentLinkedQueue[(GetObject, String, Long)],
      cy: Cycles, prevId: String): String = {
    val cur = versions.get.last
    val delta = CatalogGen.delta(ctx.seed, c, cur, shape)
    val next = cur.withDelta(delta)
    versions.set(versions.get :+ next)
    Files.createDirectories(stagingDir)
    val staged = stagingDir.resolve(s"catalog-delta-$c.json")
    Files.write(staged, CatalogGen.lines(delta))
    Files.move(staged, sourceDir.resolve(staged.getFileName), StandardCopyOption.ATOMIC_MOVE)
    val written = System.nanoTime()
    val probe = delta.head
    pending.add((GetObject(probe.key, probe.schema, probe.name), probe.blob, written))

    def step[A](name: String, into: mutable.ArrayBuffer[Double], scale: Double)(body: => A): Option[A] = {
      cy.attempted += 1
      val (r, ns) = timed(tracer.request(s"bench.$name", "cycle") {
        tracer.span(s"catalog.$name")(attempt(name)(body))
      })
      if (r.isEmpty) cy.failed += 1 else into += ns / scale
      r
    }

    step("refreshIncremental", cy.incr, 1e9)(FbcIngest.refreshIncremental(spark, sourceDir.toString, root))
    val pkgs = delta.map(_.key).distinct
    val seen = attempt("incrementalMeta")(FbcIngest.incrementalMeta(spark, root)
      .filter(col("package").isin(pkgs: _*) && col("schema") === CatalogGen.Bundle)
      .select("package", "name").collect().map(r => (r.getString(0), r.getString(1))).toSet)
    val want = pkgs.flatMap(p => next.names(p, CatalogGen.Bundle).map(p -> _)).toSet
    cy.attempted += 1
    if (!seen.contains(want)) {
      cy.failed += 1
      System.err.println(s"[perfbench] incremental table does not hold delta $c")
    }
    val id = step("refreshIfChanged", cy.publish, 1e9)(
      FbcIngest.refreshIfChanged(spark, sourceDir.toString, root))
    published.set(versions.get.size - 1)
    cy.attempted += 1
    if (!id.exists(_ != prevId)) { cy.failed += 1; System.err.println("[perfbench] no new snapshot") }
    val again = step("refreshIfChanged_noop", cy.noop, 1e6)(
      FbcIngest.refreshIfChanged(spark, sourceDir.toString, root))
    cy.attempted += 1
    if (again != id) { cy.failed += 1; System.err.println("[perfbench] unchanged source republished") }
    step("gcSnapshots", cy.gc, 1e6)(FbcIngest.gcSnapshots(root, keep = 2))
    cy.amp += tree(rootPath)._1.toDouble / next.bytes
    id.getOrElse(prevId)
  }

  /** One writer running refresh cycles for `secs` seconds (at least one;
    * the cycle in progress finishes) while one reader loops the serve mix;
    * every answer must match the snapshot before or after a concurrent
    * swap. After the last cycle the reader goes on, for at most
    * `DrainSeconds`, until it has seen every delta; a delta it never sees
    * is a failed freshness check. Returns the reader's latencies and
    * failures (stale deltas included) and the writer's cycles. */
  private def refreshLoop(base: Truth, secs: Double): (Samples, Long, Cycles) = {
    val versions = new AtomicReference(Vector(base))
    val published = new AtomicInteger(0)
    val lat = new Samples
    val failed = new AtomicLong()
    val pending = new java.util.concurrent.ConcurrentLinkedQueue[(GetObject, String, Long)]()
    val cy = new Cycles
    val layer = new RouteLayer
    @volatile var done = false
    @volatile var drainUntil = Long.MaxValue
    val t0 = System.nanoTime()
    val reader = new Thread(() => {
      val gen = new RequestGen(ctx.seed * 31 + 3, base)
      var probeTurn = false
      while (!done || (!pending.isEmpty && System.nanoTime() < drainUntil)) {
        val vs = published.get
        // every other request probes the oldest delta not yet served; once
        // the writer is done, every request does
        val probe = if (probeTurn || done) Option(pending.peek) else None
        probeTurn = !probeTurn
        val r = probe.map(_._1).getOrElse(gen.next())
        val accept = () => {
          val all = versions.get
          all.slice(vs, math.min(all.size, published.get + 2))
        }
        request(r, accept, lat, layer) match {
          case None => failed.incrementAndGet()
          case Some(rows) => probe.foreach { case (_, blob, written) =>
            if (rows.length == 1 && rows(0).getString(0) == blob) {
              pending.poll()
              cy.fresh.synchronized { cy.fresh += seconds(System.nanoTime() - written) }
            }
          }
        }
      }
    }, "perfbench-reader")
    reader.start()
    var c = 0
    var id = FbcIngest.activeSnapshot(root).map(_._1).getOrElse("")
    val deadline = t0 + (secs * 1e9).toLong
    try {
      do {
        id = cycle(c, versions, published, pending, cy, id)
        c += 1
      } while (System.nanoTime() < deadline)
    } finally {
      drainUntil = System.nanoTime() + (DrainSeconds * 1e9).toLong
      done = true
      reader.join()
    }
    // one freshness check per cycle: the reader saw its delta
    cy.attempted += c
    if (!pending.isEmpty)
      System.err.println(s"[perfbench] ${pending.size} deltas never became visible")
    (lat, failed.get + pending.size, cy)
  }

  /** The refresh phase: one writer runs refresh cycles for half the
    * run's seconds beside one reader on the serve mix. Returns attempts,
    * failures and the writer's figures (plus the streaming figures of
    * the incremental refreshes). */
  private def refresh(base: Truth): (Long, Long, Map[String, (Double, String)]) = {
    // the first incremental ingest takes the whole base source
    val baseIncr = attempt("refreshIncremental")(
      FbcIngest.refreshIncremental(spark, sourceDir.toString, root)).size
    val streams0 = tracer.streams.batches
    tracer.start()
    val (lat, failed, cy) = refreshLoop(base, ctx.seconds / 2.0)
    tracer.stop()
    val writer = Map(
      "publish_s" -> (median(cy.publish.toSeq), "s"),
      "incr_refresh_s" -> (median(cy.incr.toSeq), "s"),
      "fresh_s" -> (median(cy.fresh.toSeq), "s"),
      "store_amp" -> (cy.amp.lastOption.getOrElse(Double.NaN), "ratio"),
      "catalog.refreshIncremental_s" -> (median(cy.incr.toSeq), "s"),
      "catalog.refreshIfChanged_noop_ms" -> (median(cy.noop.toSeq), "ms"),
      "catalog.gcSnapshots_ms" -> (median(cy.gc.toSeq), "ms"),
      "streaming.batches" -> ((tracer.streams.batches - streams0).toDouble, "count"),
      "streaming.state_commit_ms" -> (tracer.streams.commitMs.toDouble, "ms"),
      "streaming.state_rows" -> (tracer.streams.stateRows.toDouble, "count"),
      "streaming.state_mem_bytes" -> (tracer.streams.stateMem.toDouble, "B"))
    (lat.size + 1 + cy.attempted, failed + (1 - baseIncr) + cy.failed, writer)
  }
}
