package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (JVM-wide, forked test run). */
object SparkTestSession {
  /** Run `f`, counting the streaming queries started on the stream
    * session meanwhile. `onQueryStarted` runs before `start()` returns,
    * so the count is complete when `f` returns.
    */
  def queriesStarted[T](f: => T): (T, Int) = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        started.incrementAndGet(): Unit
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    val ss = graft.streaming.EventsStream.streamSession(spark)
    ss.streams.addListener(listener)
    val r = try f finally ss.streams.removeListener(listener)
    (r, started.get())
  }

  /** Run `f`, counting the Spark jobs started meanwhile. The bus is
    * drained on both sides, so the count holds exactly `f`'s jobs.
    */
  def jobsStarted[T](f: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.incrementAndGet(): Unit
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val r = try { val r = f; org.apache.spark.ListenerBusDrain(sc); r }
      finally sc.removeSparkListener(listener)
    (r, started.get())
  }

  lazy val spark: SparkSession = {
    val s = Sessions.builder("graft-test", "local[4]", "4")
      // session-lifetime, so inside this JVM's scratch run dir rather
      // than a Scratch.withDir scope: the next run's sweep deletes it
      .config("spark.sql.warehouse.dir",
        new java.io.File(Scratch.base.toFile, "warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
