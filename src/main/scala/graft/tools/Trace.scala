package graft.tools

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Dev diagnostic for registry queries, on the census session
  * (`graft.Session`):
  *
  * {{{
  * runMain graft.tools.Trace plan <query>... [sfDir]
  * runMain graft.tools.Trace run <query> [sfDir] [n]
  * }}}
  *
  * `plan` prints each query's formatted executed plan and its hash/range
  * exchange count (PlanAudit's `shuffles` column); sfDir defaults to
  * sf0.001. `run` runs one query n times (default 3; sfDir default sf0.1)
  * and prints, per run, the wall time split into DataFrame construction,
  * planning and execution, then every job's duration with the DRIVER GAP
  * before it — wall clock no stage accounts for (planning, broadcast
  * builds, checkpoint bookkeeping) — and each job's stages (task run time,
  * GC, rows in/out). A negative gap is real overlap (concurrent broadcast
  * futures), printed as-is.
  */
object Trace {

  def main(args: Array[String]): Unit = args.toList match {
    case "plan" :: rest if rest.nonEmpty => plan(rest)
    case "run" :: name :: rest if rest.size <= 2 =>
      run(name, rest.headOption.getOrElse("/root/testdata/sf0.1"),
        rest.lift(1).map(_.toInt).getOrElse(3))
    case _ =>
      System.err.println("usage: Trace plan <query>... [sfDir] | Trace run <query> [sfDir] [n]")
      sys.exit(2)
  }

  private def query(name: String): graft.Q =
    graft.SparkEntry.registry.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no registry query named '$name'"))

  private def plan(args: List[String]): Unit = {
    // a trailing argument that names no query is the sf dir
    val known = graft.SparkEntry.registry.map(_.name).toSet
    val (names, sfDir) =
      if (args.size > 1 && !known(args.last)) (args.init, args.last)
      else (args, "/root/testdata/sf0.001")
    val queries = names.map(query)
    val spark = graft.Session()
    queries.foreach { q =>
      println(s"\n========== ${q.name} ==========")
      val df = q.run(spark, sfDir)
      df.explain("formatted")
      println("== exchanges: " + graft.PlanAudit.exchanges(df.queryExecution.executedPlan.toString))
      spark.catalog.clearCache() // .cache() registers at plan time
    }
    spark.stop()
  }

  private final case class StageAgg(run: Long = 0, gc: Long = 0, tasks: Int = 0,
                                    maxRun: Long = 0, inRows: Long = 0, outRows: Long = 0,
                                    name: String = "")

  private def run(name: String, sfDir: String, n: Int): Unit = {
    val q = query(name)
    val spark = graft.Session()
    val jobs = mutable.LinkedHashMap.empty[Int, (Long, Long)] // id -> (t0, t1)
    val stageOfJob = mutable.Map.empty[Int, Seq[Int]]
    val stages = mutable.Map.empty[Int, StageAgg]
    // listener callbacks run on the listener-bus thread: one lock covers
    // every update and the snapshot the report prints from
    val lock = new Object
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
        jobs(e.jobId) = (e.time, 0L)
        stageOfJob(e.jobId) = e.stageIds
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
        jobs.get(e.jobId).foreach(t => jobs(e.jobId) = (t._1, e.time))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
        val m = e.taskMetrics
        if (m != null) {
          val a = stages.getOrElse(e.stageId, StageAgg())
          stages(e.stageId) = a.copy(
            run = a.run + m.executorRunTime, gc = a.gc + m.jvmGCTime, tasks = a.tasks + 1,
            maxRun = math.max(a.maxRun, m.executorRunTime),
            inRows = a.inRows + m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
            outRows = a.outRows + m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten)
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
        val id = e.stageInfo.stageId
        stages(id) = stages.getOrElse(id, StageAgg()).copy(name = e.stageInfo.name.take(60))
      }
    })
    // a first job outside the runs pays the session's one-time class loading
    spark.range(1000).selectExpr("id % 10 AS k").groupBy("k").count().count()

    (1 to n).foreach { i =>
      lock.synchronized { jobs.clear(); stages.clear(); stageOfJob.clear() }
      val t0 = System.nanoTime()
      val df = q.run(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      val rows = df.count()
      val t3 = System.nanoTime()
      Thread.sleep(300) // let listener events drain
      // print from an immutable snapshot: printing under the lock would
      // block the listener bus
      val (jobList, stageMap, stagesOf) =
        lock.synchronized((jobs.toList, stages.toMap, stageOfJob.toMap))
      println(f"%n=== $name run $i: wall=${(t3 - t0) / 1e9}%.3f s construct=${(t1 - t0) / 1e9}%.3f" +
        f" plan=${(t2 - t1) / 1e9}%.3f exec=${(t3 - t2) / 1e9}%.3f rows=$rows")
      var prevEnd = 0L
      jobList.foreach { case (id, (s0, s1)) =>
        val gap = if (prevEnd == 0) 0.0 else (s0 - prevEnd) / 1e3
        prevEnd = s1
        val sids = stagesOf.getOrElse(id, Nil)
        println(f"  job $id%3d dur=${(s1 - s0) / 1e3}%7.3f s gap_before=$gap%7.3f s stages=${sids.size}")
        sids.foreach { sid =>
          stageMap.get(sid).filter(_.tasks > 0).foreach { a =>
            println(f"    stage $sid%3d run=${a.run / 1e3}%8.2f max=${a.maxRun / 1e3}%6.2f gc=${a.gc / 1e3}%5.2f tasks=${a.tasks}%3d inRows=${a.inRows}%9d outRows=${a.outRows}%9d  ${a.name}")
          }
        }
      }
    }
    spark.stop()
  }
}
