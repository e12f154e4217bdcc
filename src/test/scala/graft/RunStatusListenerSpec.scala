package graft

class RunStatusListenerSpec extends SparkSpec {

  behavior of "RunStatusListener"

  it should "track job progress and report COMPLETED" in {
    @volatile var last: Option[RunStatus] = None
    val l = new RunStatusListener(st => last = Some(st))
    spark.sparkContext.addSparkListener(l)
    try {
      import spark.implicits._
      (1 to 1000).toDF("x").groupBy(($"x" % 7).as("k")).count().collect()
      // listener bus is async — poll briefly for delivery
      val deadline = System.currentTimeMillis() + 10000
      while (l.status.jobsSucceeded < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val st = l.status
      st.jobsStarted should be >= 1L
      st.jobsSucceeded should be >= 1L
      st.jobsFailed shouldBe 0L
      st.stagesCompleted should be >= 1L
      st.tasksCompleted should be >= 1L
      st.state shouldBe "COMPLETED"
      last.isDefined shouldBe true
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Registers a fresh listener on a settled bus, runs `body`, and returns
    * what the listener saw once every event is delivered. */
  private def observe(body: => Unit): RunStatus = {
    val sc = spark.sparkContext
    org.apache.spark.GraftBus.drain(sc)
    val l = new RunStatusListener()
    sc.addSparkListener(l)
    try {
      val before = l.status
      body
      org.apache.spark.GraftBus.drain(sc)
      l.status.since(before)
    } finally sc.removeSparkListener(l)
  }

  it should "report a failing job as FAILED" in {
    val st = observe {
      intercept[org.apache.spark.SparkException] {
        spark.sparkContext.parallelize(1 to 10, 2)
          .map(i => if (i == 5) throw new IllegalStateException("boom") else i)
          .collect()
      }
    }
    st.jobsFailed shouldBe 1L
    st.state shouldBe "FAILED"
  }

  it should "total task time and shuffle-write bytes of a shuffling job" in {
    import org.apache.spark.sql.functions._
    val st = observe {
      spark.range(0L, 4000000L, 1L, 4).groupBy((col("id") % 1000).as("k"))
        .agg(sum("id")).collect()
    }
    st.jobsSucceeded should be >= 1L
    st.shuffleWriteBytes should be > 0L
    st.taskTimeMs should be > 0L
  }
}
