package graft.streaming

import java.io.File

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** Pins every [[StreamBench.benchOnly]] entry's output at sf0.001 and
  * checks that a run cleans up after itself: no `bench-*` checkpoint
  * left in `java.io.tmpdir`, no active query and no `bench_*` view.
  */
class StreamBenchSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** Columns and the single row each entry returns at sf0.001 in the
    * spec session. */
  private val pinned: Map[String, (Seq[String], Seq[Any])] = Map(
    "qs01_bloom_dedup_stream" -> (Seq("n_in", "n_out"), Seq(1000L, 75L)),
    "qs02_cdc_apply_stream" -> (Seq("n_in", "n_keys"), Seq(1000L, 250L)),
    "qs03_cms_stream" -> (Seq("n_in", "sketch_total"), Seq(1000L, 1000L)),
    "qs04_anomaly_stream" -> (Seq("n_in", "n_anomalies"), Seq(1000L, 79L)),
    "qs05_asof_stream" -> (Seq("n_probes", "n_matched"), Seq(202L, 171L)),
    "qs06_funnel_stream" -> (Seq("n_in", "n_users"), Seq(1000L, 15L)),
    "qs07_chained_stream" -> (Seq("n_in", "n_windows"), Seq(1000L, 213L)),
    "qs08_kll_stream" -> (Seq("n_in", "sketch_n", "p50"), Seq(1000L, 1000L, 34.79)),
    "qs09_fullouter_join_stream" -> (Seq("n_matched", "n_orphans"), Seq(3L, 395L)),
    "qs10_topk_stream" -> (Seq("n_in", "n_emitted"), Seq(1000L, 135L)),
    "qs11_hll_stream" -> (Seq("n_in", "est_distinct"), Seq(1000L, 15L)),
    "qs12_bitmap_stream" -> (Seq("n_in", "n_distinct"), Seq(1000L, 15L)),
    "qs13_reservoir_stream" -> (Seq("n_in", "k"), Seq(1000L, 64L)),
    "qs14_session_stream" -> (Seq("n_in", "n_sessions"), Seq(1000L, 979L)),
    "qs15_lsh_dedup_stream" -> (Seq("n_docs", "n_near_dups"), Seq(500L, 417L)),
    "qs16_psi_stream" -> (Seq("n_types", "n_drifted"), Seq(5L, 0L)),
    "qs17_cusum_stream" -> (Seq("n_types", "n_alarms_total"), Seq(5L, 0L)),
    "qs18_ewma_stream" -> (Seq("n_types", "n_alarms_total"), Seq(5L, 6L)),
    "qs19_sliding_hll_stream" -> (Seq("n_days_finalized", "sum_floor_estimates"), Seq(28L, 420L)),
    "qs20_stream_static_join" -> (Seq("n_segments", "n_rows_joined"), Seq(4L, 1000L)),
    "qs21_beam_serve_stream" -> (Seq("n_queries", "n_batches"), Seq(64L, 3L)),
    "qs22_graph_insert_stream" -> (Seq("n_queries", "n_inserted", "recall_permille"), Seq(64L, 50L, 1000L)),
    "qs23_count_sketch_stream" -> (Seq("n_in", "nonzero_cells"), Seq(1000L, 69L)),
    "qs24_watermark_dedup_stream" -> (Seq("n_in", "n_out"), Seq(1000L, 224L)),
    "qs25_cuckoo_stream" -> (Seq("n_in", "n_out", "n_live_adds"), Seq(1000L, 1000L, 667L)),
    "qs26_slope_one_stream" -> (Seq("n_in", "n_ratings", "n_pairs"), Seq(1000L, 457L, 1332L)),
    "qs27_req_stream" -> (Seq("n_in", "n_buckets", "p999_est"), Seq(1000L, 192L, 28500L)),
    "qs28_dgim_stream" -> (Seq("n_shards", "total_est", "total_exact"), Seq(8L, 0L, 0L)),
    "qs29_bucket_batch_stream" -> (Seq("n_docs", "n_buckets", "max_state_buckets"), Seq(500L, 7L, 7L))
  )

  private def benchDirs(): Set[String] = Option(
    new File(System.getProperty("java.io.tmpdir"))
      .list((_, n) => n.startsWith("bench-")))
    .map(_.toSet).getOrElse(Set.empty)

  private def benchViews(): Seq[String] = spark.catalog.listTables()
    .collect().toSeq.filter(_.isTemporary).map(_.name)
    .filter(_.startsWith("bench_"))

  private def assertNothingLeft(before: Set[String]): Unit = {
    assert(benchDirs() -- before == Set.empty)
    assert(spark.streams.active.isEmpty)
    assert(benchViews().isEmpty)
  }

  test("every bench entry is pinned") {
    assert(StreamBench.benchOnly.keySet == pinned.keySet)
  }

  StreamBench.benchOnly.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name returns its pinned row and leaves nothing behind") {
      val before = benchDirs()
      val out = fn(spark, dir)
      val (cols, row) = pinned(name)
      assert(out.columns.toSeq == cols)
      assert(out.collect().map(_.toSeq).toSeq == Seq(row))
      assertNothingLeft(before)
    }
  }

  test("a feed that throws leaves no query, view or checkpoint behind") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val before = benchDirs()
    val stream = MemoryStream[Long]
    val e = intercept[IllegalStateException] {
      StreamBench.runMemorySink(spark, "boom", stream.toDS(), "append") { q =>
        stream.addData(1L, 2L)
        q.processAllAvailable()
        throw new IllegalStateException("feed failed")
      }(_.count())
    }
    assert(e.getMessage == "feed failed")
    assertNothingLeft(before)
  }
}
