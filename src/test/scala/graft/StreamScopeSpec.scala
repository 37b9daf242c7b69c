package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing
  .FileContextBasedCheckpointFileManager
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{EventStream, LocalCheckpointFileManager}

/** The streaming scope (`EventStream.withStatePartitions`): what it sets,
  * what it puts back, when it turns artifact isolation off for a stream's
  * cloned session, and that its checkpoint manager leaves a checkpoint
  * Spark's default manager would recognise as its own.
  */
class StreamScopeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val manager = "spark.sql.streaming.checkpointFileManagerClass"
  private val isolation = "spark.sql.artifact.isolation.enabled"
  private val partitions = "spark.sql.shuffle.partitions"
  /** The value set on the session, if any (not the conf's default). */
  private def setOn(s: org.apache.spark.sql.SparkSession, key: String) =
    s.conf.getAll.get(key)

  test("scope restores previous values and unsets keys that had none," +
      " also when the body throws") {
    assert(setOn(spark, manager).isEmpty)
    assert(setOn(spark, isolation).isEmpty)
    val before = spark.conf.get(partitions)
    EventStream.withStatePartitions(spark, 3) {
      assert(spark.conf.get(partitions) == "3")
      assert(spark.conf.get(manager) ==
        classOf[LocalCheckpointFileManager].getName)
    }
    assert(spark.conf.get(partitions) == before)
    assert(setOn(spark, manager).isEmpty)
    assert(setOn(spark, isolation).isEmpty)
    val boom = intercept[IllegalStateException] {
      EventStream.withStatePartitions(spark, 5) {
        throw new IllegalStateException("boom")
      }
    }
    assert(boom.getMessage == "boom")
    assert(spark.conf.get(partitions) == before)
    assert(setOn(spark, manager).isEmpty)
    assert(setOn(spark, isolation).isEmpty)
  }

  test("scope keeps a checkpoint manager the caller chose") {
    val chosen = classOf[FileContextBasedCheckpointFileManager].getName
    spark.conf.set(manager, chosen)
    try EventStream.withStatePartitions(spark, 2) {
      assert(spark.conf.get(manager) == chosen)
    } finally spark.conf.unset(manager)
  }

  test("isolation is turned off for the stream's clone only when the" +
      " session holds no artifacts") {
    // a session with nothing added: the clone runs in the default loader
    val clean = spark.newSession()
    EventStream.withStatePartitions(clean, 2) {
      assert(clean.conf.get(isolation) == "false")
    }
    assert(setOn(clean, isolation).isEmpty)

    // a session holding a jar of its own keeps isolation, and its stream
    // still runs
    val holder = spark.newSession()
    val jar = Files.createTempDirectory("graft_artifact").resolve("a.jar")
    val out = new java.util.jar.JarOutputStream(Files.newOutputStream(jar))
    out.close()
    holder.addArtifact(jar.toString)
    val src = jar.resolveSibling("src").toString
    holder.range(3).write.parquet(src)
    EventStream.withStatePartitions(holder, 2) {
      assert(setOn(holder, isolation).isEmpty)
      val q = holder.readStream.schema(holder.read.parquet(src).schema)
        .parquet(src).writeStream.format("memory")
        .queryName("graft_scope_iso").start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(holder.table("graft_scope_iso").count() == 3)
  }

  /** Relative path → POSIX mode of everything under `root`. */
  private def tree(root: Path): Map[String, String] =
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString ->
        java.nio.file.attribute.PosixFilePermissions.toString(
          Files.getPosixFilePermissions(p))
    }.toMap

  /** A stateful aggregation over a parquet file stream, run for two
    * micro-batches across a stop and restart on one checkpoint. Returns
    * the checkpoint's tree, the restarted run's batch ids and its result
    * next to the batch query's.
    */
  private def twoRuns(tag: String)
      : (Map[String, String], Seq[Long], Seq[String], Seq[String]) = {
    import spark.implicits._
    val root = Files.createTempDirectory(s"graft_ckpt_$tag")
    val src = root.resolve("src").toString
    val ckpt = root.resolve("ckpt")
    val schema = Seq(("a", 1L)).toDF("k", "v").schema
    def run(name: String): Seq[Long] =
        EventStream.withStatePartitions(spark, 2) {
      val q = spark.readStream.schema(schema).parquet(src)
        .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s"))
        .writeStream.outputMode("complete").format("memory")
        .queryName(name).option("checkpointLocation", ckpt.toString)
        .start()
      try q.processAllAvailable() finally q.stop()
      q.recentProgress.toSeq.filter(_.numInputRows > 0).map(_.batchId)
    }
    def rows(df: DataFrame): Seq[String] =
      df.orderBy("k").collect().map(_.toString).toSeq
    Seq(("a", 1L), ("b", 2L), ("a", 3L)).toDF("k", "v")
      .write.mode("append").parquet(src)
    assert(run(s"graft_ckpt_${tag}_1") == Seq(0L))
    Seq(("b", 4L), ("c", 5L)).toDF("k", "v").write.mode("append").parquet(src)
    val resumed = run(s"graft_ckpt_${tag}_2")
    val streamed = rows(spark.table(s"graft_ckpt_${tag}_2"))
    val batch = rows(spark.read.parquet(src)
      .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s")))
    (tree(ckpt), resumed, streamed, batch)
  }

  test("checkpoint under the scope's manager: same files and modes as" +
      " Spark's default, resumes after restart, equals the batch query") {
    val (ours, resumed, streamed, batch) = twoRuns("graft")
    spark.conf.set(manager,
      classOf[FileContextBasedCheckpointFileManager].getName)
    val (stock, _, _, _) =
      try twoRuns("stock") finally spark.conf.unset(manager)
    assert(ours == stock)
    // both batches committed; Spark's state checksum and Hadoop's .crc
    // sibling are there for each state file
    assert(Set("commits/0", "commits/1", "state/0/0/2.delta",
      "state/0/0/2.delta.crc", "state/0/0/.2.delta.crc").subsetOf(ours.keySet))
    // the restart ran batch 1 only: batch 0 came from the checkpoint
    assert(resumed == Seq(1L))
    assert(streamed == batch)
    assert(streamed.size == 3)
  }
}
