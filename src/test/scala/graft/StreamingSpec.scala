package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming._
import graft.streaming.TripTracker._

class StreamingSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def eventRow(id: Long, tsUs: Long, user: Long, typ: String,
                       value: Double): (Long, Long, Long, String, Double) =
    (id, tsUs, user, typ, value)

  test("S9 socket text stream counts words through the built-in source") {
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    val writer = new Thread(() => {
      try {
        val sock = server.accept()
        val out = new java.io.PrintWriter(sock.getOutputStream, true)
        out.println("alpha beta alpha")
        out.println("beta alpha")
        out.flush()
        Thread.sleep(30000) // keep the connection open for the query's life
        sock.close()
      } catch { case _: Throwable => () }
    })
    writer.setDaemon(true)
    writer.start()
    val q = StreamingJobs.socketWordCounts(spark, "localhost", port)
      .writeStream.outputMode("complete").format("memory")
      .queryName("socket_wc").start()
    try {
      var ok = false
      val deadline = System.currentTimeMillis() + 60000
      while (!ok && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        val m = spark.sql("select word, n from socket_wc").collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        ok = m.get("alpha").contains(3L) && m.get("beta").contains(2L)
        if (!ok) Thread.sleep(200)
      }
      assert(ok, spark.sql("select * from socket_wc").collect().mkString(","))
    } finally { q.stop(); server.close() }
  }

  test("windowed type counts aggregate into event-time windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val events = mem.toDF()
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
    val q = StreamingJobs.windowedTypeCounts(events, "1 hour", "2 hours")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("append").start()
    val h = 3600L * 1000000L
    mem.addData(
      eventRow(1, 0 * h + 10, 1, "click", 10.0),
      eventRow(2, 0 * h + 20, 1, "click", 5.0),
      eventRow(3, 1 * h + 30, 2, "purchase", 7.5))
    q.processAllAvailable()
    // advance watermark far enough to close the first windows
    mem.addData(eventRow(4, 10 * h, 3, "view", 1.0))
    q.processAllAvailable()
    val rows = spark.sql(
      "select event_type, n, total_value from win_counts order by win_start, event_type")
      .collect()
    q.stop()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      == Seq(("click", 2L, 15.0), ("purchase", 1L, 7.5)))
  }

  test("session_window closes sessions after the event-time gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val events = mem.toDF()
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
    val q = StreamingJobs.sessionizedActivity(events, "30 minutes", "1 hour")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    val m = 60L * 1000000L
    // user 1: two bursts 40 min apart → two sessions; user 2: one session
    mem.addData(
      eventRow(1, 0 * m, 1, "click", 1.0),
      eventRow(2, 10 * m, 1, "click", 2.0),
      eventRow(3, 50 * m, 1, "click", 4.0),
      eventRow(4, 5 * m, 2, "view", 8.0))
    q.processAllAvailable()
    mem.addData(eventRow(5, 600 * m, 3, "view", 0.0)) // advance watermark
    q.processAllAvailable()
    val rows = spark.sql(
      "select user_id, n_events, session_value from sessions order by user_id, sess_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    q.stop()
    assert(rows == Seq((1L, 2L, 3.0), (1L, 1L, 4.0), (2L, 1L, 8.0)),
      s"got $rows")
  }

  test("stream-stream interval join pairs purchases with preceding clicks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val events = mem.toDF()
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
    val q = StreamingJobs.purchaseClickJoin(events, "30 minutes", "1 hour")
      .writeStream.format("memory").queryName("pc_join")
      .outputMode("append").start()
    val m = 60L * 1000000L
    val base = 1000 * m // away from epoch 0: ts ≤ the initial watermark drop
    mem.addData(
      eventRow(1, base + 0 * m, 1, "click", 1.0),  // 25 min before purchase → in
      eventRow(2, base + 10 * m, 1, "click", 1.0), // 15 min before → in
      eventRow(3, base + 25 * m, 1, "purchase", 9.0),
      eventRow(4, base + 26 * m, 2, "click", 1.0), // other user → out
      eventRow(5, base + 90 * m, 1, "click", 1.0)) // after purchase → out
    q.processAllAvailable()
    mem.addData(eventRow(6, base + 600 * m, 3, "view", 0.0)) // advance watermarks
    q.processAllAvailable()
    val rows = spark.sql("select p_id, c_id from pc_join order by c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    q.stop()
    assert(rows == Seq((3L, 1L), (3L, 2L)), s"got $rows")
  }

  test("streaming dedup drops replayed events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val events = mem.toDF()
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
    val q = StreamingJobs.dedupedEvents(events)
      .writeStream.format("memory").queryName("deduped")
      .outputMode("append").start()
    mem.addData(eventRow(1, 1000, 1, "click", 1.0),
      eventRow(1, 1000, 1, "click", 1.0))
    q.processAllAvailable()
    mem.addData(eventRow(1, 1000, 1, "click", 1.0), // replay across batches
      eventRow(2, 2000, 1, "click", 2.0))
    q.processAllAvailable()
    val n = spark.sql("select count(*) from deduped").collect().head.getLong(0)
    q.stop()
    assert(n == 2L)
  }

  private val tripCfg = Map("t1" -> TripConfig("t1", Seq(
    Geofence("src", 10.0, 70.0, 5.0, "src"),
    Geofence("wp1", 10.5, 70.0, 5.0, "waypoint"),
    Geofence("dst", 11.0, 70.0, 5.0, "dest"))))

  test("trip state machine emits start/entry/exit/end through a full trip") {
    // pure-transition walk mirroring the reference test's src → waypoint →
    // outer → dest journey (CompassSparkServiceTest.scala:106-213)
    var state = "src"
    def step(lat: Double, lng: Double, ts: Long): Seq[TripAlert] = {
      val (next, alerts) = transition(tripCfg("t1"), state, Ping("t1", ts, lat, lng))
      state = next
      alerts
    }
    assert(step(10.0, 70.0, 1) == Nil) // still inside src
    val leaveSrc = step(10.25, 70.0, 2) // between src and wp1 → outer
    assert(leaveSrc.map(_.alertType) == Seq("trip_start"))
    val enterWp = step(10.5, 70.0, 3)
    assert(enterWp.map(_.alertType) == Seq("geofence_entry"))
    val leaveWp = step(10.75, 70.0, 4)
    assert(leaveWp.map(_.alertType) == Seq("geofence_exit"))
    val arrive = step(11.0, 70.0, 5)
    assert(arrive.map(_.alertType) == Seq("trip_end"))
    assert(state == "dst")
  }

  test("trip alerts flow through flatMapGroupsWithState with state across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ping]
    val q = TripTracker.alerts(mem.toDS(), tripCfg)
      .writeStream.format("memory").queryName("trip_alerts")
      .outputMode("append").start()
    mem.addData(Ping("t1", 1, 10.0, 70.0), Ping("t1", 2, 10.25, 70.0))
    q.processAllAvailable()
    mem.addData(Ping("t1", 3, 10.5, 70.0), Ping("t1", 4, 11.0, 70.0),
      Ping("t2", 5, 10.5, 70.0)) // unknown trip → ignored
    q.processAllAvailable()
    val alerts = spark.sql(
      "select ts, geofenceId, alertType from trip_alerts order by ts").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    q.stop()
    assert(alerts == Seq(
      (2L, "src", "trip_start"),
      (3L, "wp1", "geofence_entry"),
      (4L, "wp1", "geofence_exit"),
      (4L, "dst", "trip_end")))
  }

  test("foreachBatch upsert maintains capped per-user location table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val upsertDir = tmp("graft_upsert")
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val events = mem.toDF()
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
    val q = StreamingJobs.bestLocationUpsert(events,
        s"$upsertDir/lookup", s"$upsertDir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    mem.addData(eventRow(1, 1000000, 1, "click", 10.0),
      eventRow(2, 2000000, 1, "click", 20.0))
    q.awaitTermination(60000)
    val q2 = StreamingJobs.bestLocationUpsert(events,
        s"$upsertDir/lookup", s"$upsertDir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    mem.addData(eventRow(3, 3000000, 1, "click", 30.0),
      eventRow(4, 4000000, 2, "view", 40.0))
    q2.awaitTermination(60000)
    val table = spark.read.parquet(s"$upsertDir/lookup")
    val byUser = table.groupBy("user_id").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(byUser == Map(1L -> 3L, 2L -> 1L))
  }
}
