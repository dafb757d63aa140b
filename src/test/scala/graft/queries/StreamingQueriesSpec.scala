package graft.queries

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.SparkTestSession

class StreamingQueriesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("runStream: concurrent stateful streams each get their own state width") {
    import spark.implicits._
    val in = graft.Scratch.dir("graft-width-in")
    (0 until 40).map(i => (i % 10, i)).toDF("k", "v").write.mode("overwrite").parquet(in)
    val configured = spark.conf.get("spark.sql.shuffle.partitions")
    assert(configured == "4")
    // stateRows 1 sizes the state stores at 1 partition, 150000 at
    // ceil(150000 / 50000) = 3; the session is configured at 4
    val expected = Map("narrow" -> 1L, "wide" -> 3L)
    val rounds = 3
    val widths = new ConcurrentLinkedQueue[(String, Long)]()
    val done = new CountDownLatch(expected.size * rounds)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(op => widths.add((e.progress.name, op.numShufflePartitions)))
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = done.countDown()
    }
    spark.streams.addListener(listener)
    val failures = new ConcurrentHashMap[String, Throwable]()
    try {
      val threads = expected.toSeq.map { case (prefix, _) =>
        val stateRows = if (prefix == "narrow") 1L else 150000L
        new Thread(() => {
          try (0 until rounds).foreach { _ =>
            val stream = spark.readStream.schema("k INT, v INT").parquet(in).dropDuplicates("k")
            assert(StreamingQueries.runStream(stream, prefix, Some(stateRows)).count() == 10)
          } catch { case t: Throwable => failures.put(prefix, t) }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      // progress events reach listeners before their query's termination event
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS), "streams did not report termination")
    } finally spark.streams.removeListener(listener)
    assert(failures.isEmpty, failures)
    import scala.jdk.CollectionConverters._
    val byQuery = widths.asScala.toSeq.groupMap(_._1)(_._2)
    assert(byQuery.size == expected.size * rounds, byQuery)
    byQuery.foreach { case (name, ws) =>
      val want = expected(name.takeWhile(_ != '_'))
      assert(ws.toSet == Set(want), s"$name ran at widths ${ws.distinct}, expected $want")
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == configured)
  }
}
