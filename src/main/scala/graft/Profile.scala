package graft

/** `runMain graft.Profile <query> [<query>…] [--sf dir]`, default sf0.001
  * (fixed per-query cost dominates; ProfileBudgetSpec pins job counts).
  * Per declared query: the formatted physical plan, each Spark job's wall
  * and the driver gap before it, and the [[QueryProfile]] of one
  * cold-cache run of construction plus a noop write (Bench's unit).
  * A query named twice runs twice in the one JVM: `compiles` then shows
  * what the second run found missing from Spark's codegen cache. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfAt = args.indexOf("--sf")
    val sfDir = if (sfAt >= 0) args(sfAt + 1) else "/root/testdata/sf0.001"
    val names = if (sfAt >= 0) args.toSeq.patch(sfAt, Nil, 2) else args.toSeq
    require(names.nonEmpty && names.forall(SparkEntry.queries.contains),
      "usage: graft.Profile <declared query> [<query>…] [--sf dir]")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    names.foreach { name =>
      graft.sources.Tables.clearCaches()
      val (df, p) = QueryProfile.of(spark).measure {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.write.mode("overwrite").format("noop").save()
        df
      }
      println(s"== $name")
      df.explain("formatted")
      var prevEnd = p.jobs.headOption.fold(0L)(_.startMs)
      p.jobs.foreach { j =>
        println(f"job ${j.id}%4d ${j.endMs - j.startMs}%6d ms  " +
          f"gap ${math.max(j.startMs - prevEnd, 0L)}%5d ms  " +
          s"${j.executionDesc.take(50)} | ${j.desc.take(90)}")
        prevEnd = math.max(prevEnd, j.endMs)
      }
      val runs = p.streams.values
      println(f"[profile] $name wall=${p.wallMs}ms jobs=${p.jobs.size} " +
        f"stages=${p.stages} tasks=${p.tasks} in_jobs=${p.jobMs}ms " +
        f"outside_jobs=${p.outsideMs}ms task=${p.taskMs}ms cpu=${p.cpuMs}ms " +
        f"gc=${p.gcMs}ms sched=${p.schedMs}ms compiles=${p.compiles} " +
        f"input=${p.inputBytes / 1048576.0}%.2fMB " +
        f"shuffle=${p.shuffleBytes / 1048576.0}%.2fMB streams=${runs.size} " +
        f"batches=${runs.map(_.batches).sum} " +
        f"trigger=${runs.map(_.triggerMs).sum}ms " +
        f"addbatch=${runs.map(_.addBatchMs).sum}ms")
    }
    spark.stop()
  }
}
