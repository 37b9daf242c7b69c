package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Repeated runs in one session reuse their generated classes: with the
  * build's codegen cache size and the streaming scope's shared
  * classloader, a mix of batch queries and a stream compiles nothing after
  * its first round. This JVM gets the root build's `javaOptions`, the same
  * flags graft.Bench and Verify run with.
  */
class CodegenReuseSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private val mix = Seq("ts_calendar_gaps", "ts_goertzel_power",
    "inc_snapshot_diff", "cal_busday_offset", "asof_join_exec",
    "ingest_av_fx_json", "stream_tumbling_daily")

  test("a batch and streaming mix compiles no code after round 1") {
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val perRound = (1 to 3).map { _ =>
      val before = compiles
      mix.foreach { name =>
        SparkEntry.queries(name)(spark, sf)
          .write.format("noop").mode("overwrite").save()
      }
      compiles - before
    }
    assert(perRound.head > 0)
    assert(perRound.tail == Seq(0L, 0L), s"compiles per round: $perRound")
  }
}
