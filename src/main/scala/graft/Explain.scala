package graft

/** Plan inspection harness: prints the formatted physical plan and
  * timed row count for one named SparkEntry query.
  *
  * Usage: runMain graft.Explain <queryName> [sfDir] [countOnly]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    // flags are not directories: `Explain all exec` (sfDir omitted)
    // used to consume "exec" as args(1)=sfDir and fail every query on
    // a path named "exec" while ALSO enabling exec mode
    val flags = Set("exec", "countOnly")
    val sfDir = if (args.length > 1 && !flags(args(1))) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (name == "all") {
      // one-line physical-plan audit per query: join strategies,
      // exchange count, whole-stage-codegen coverage, cartesians.
      // DEFAULT reads the plan WITHOUT executing — under AQE that is
      // the INITIAL plan: join strategies are pre-runtime estimates
      // and codegen collapse has not happened yet (wscg always reads
      // 0), but a CartesianProduct is already visible (AQE never
      // introduces one), so the cartesian gate is sound either way.
      // `exec` as the 3rd arg RUNS each query first and audits the
      // FINAL adaptive plan — runtime-chosen joins and real
      // WholeStageCodegen spans; use it to answer "is this operator
      // actually inside codegen" instead of eyeballing explain.
      val exec = args.contains("exec")
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (n, fn) =>
        try {
          val df = fn(spark, sfDir)
          // collect(), not count(): count() wraps the plan in a NEW
          // QueryExecution (an aggregate on top), leaving df's own —
          // the one audited below — unexecuted and therefore still on
          // its initial AQE plan. collect() executes the audited plan
          // itself. Run exec mode at small SF; results come to the
          // driver.
          if (exec) df.collect()
          // An EXECUTED AdaptiveSparkPlan stringifies final plan THEN
          // an "== Initial Plan ==" section — audit the final part
          // only, or every flag double-counts. Simple-mode toString
          // renders codegen as `*(id)` node prefixes (never the
          // literal "WholeStageCodegen"), so wscg counts DISTINCT
          // codegen stage ids.
          val plan = df.queryExecution.executedPlan.toString
            .split("== Initial Plan ==")(0)
          def c(p: String) = p.r.findAllIn(plan).size
          val wscg = "\\*\\((\\d+)\\)".r.findAllMatchIn(plan).map(_.group(1)).toSet.size
          val flags = Seq(
            "bhj" -> c("BroadcastHashJoin"), "smj" -> c("SortMergeJoin"),
            "shj" -> c("ShuffledHashJoin"), "bnlj" -> c("BroadcastNestedLoopJoin"),
            "cart" -> c("CartesianProduct"), "xchg" -> c("Exchange"),
            "wscg" -> wscg, "scan" -> c("Scan parquet"))
            .collect { case (k, v) if v > 0 => s"$k=$v" }.mkString(" ")
          println(f"[audit] $n%-28s $flags")
        } catch {
          // NonFatal: an OOM must abort the audit, not corrupt it; and
          // String.valueOf — a null getMessage (bare NPE/IOException)
          // would NPE the catch block itself and kill the whole loop
          case scala.util.control.NonFatal(e) =>
            println(s"[audit] $n FAILED: ${String.valueOf(e.getMessage).take(80)}")
        }
      }
    } else {
      val df = SparkEntry.queries(name)(spark, sfDir)
      if (!args.contains("countOnly")) df.explain("formatted")
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"[explain] $name rows=$n%d time=${(System.nanoTime() - t0) / 1e9}%.2fs")
      // `exec`: also execute THIS plan (count() above ran a different
      // QueryExecution) and print the FINAL adaptive plan — the
      // runtime join strategies and `*(id)` codegen spans, which the
      // formatted pre-execution explain cannot show under AQE.
      if (args.contains("exec")) {
        df.collect()
        println(df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0))
      }
    }
    spark.stop()
  }
}
