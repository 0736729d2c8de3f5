package graft.tools

/** Same-session A/B of optimizer-rule exclusions (r14): for each named
  * query, alternate legs with and without the exclusions, 2 samples per
  * leg per round, each timing the full result ([[graft.Bench.runFull]]).
  * Usage:
  *   runMain graft.tools.RuleAB <sfDir> <mode> <query ...>
  * mode: gen | constraints | infercon
  */
object RuleAB {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val mode = args(1)
    val names = args.drop(2).toSeq
    val spark = graft.Tables.session("ERROR")
    val genRule =
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    val conRule =
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints"
    def setLeg(on: Boolean): Unit = mode match {
      case "gen" =>
        if (on) spark.conf.set("spark.sql.optimizer.excludedRules", genRule)
        else spark.conf.unset("spark.sql.optimizer.excludedRules")
      case "constraints" =>
        spark.conf.set("spark.sql.constraintPropagation.enabled",
          (!on).toString)
      case "infercon" =>
        // baseline keeps the (default, r14) gen exclusion on BOTH legs;
        // the test leg additionally excludes InferFiltersFromConstraints
        spark.conf.set("spark.sql.optimizer.excludedRules",
          if (on) s"$genRule,$conRule" else genRule)
      case other => sys.error(s"unknown mode $other")
    }
    def sample(name: String): Double = {
      val t0 = System.nanoTime()
      graft.Bench.runFull(graft.SparkEntry.queries(name)(spark, dir))
      (System.nanoTime() - t0) / 1e9
    }
    names.foreach { name =>
      // warm both legs once (codegen, landing)
      setLeg(false); sample(name); setLeg(true); sample(name)
      val res = (1 to 3).flatMap { _ =>
        Seq(false, true).map { leg =>
          setLeg(leg)
          val s = math.min(sample(name), sample(name))
          (leg, s)
        }
      }
      val off = res.filter(!_._1).map(_._2)
      val on = res.filter(_._1).map(_._2)
      println(f"[ruleab] $name mode=$mode baseline=${off.sorted.apply(off.size / 2)}%.2f s " +
        f"excluded=${on.sorted.apply(on.size / 2)}%.2f s " +
        f"(baseline=${off.map(v => f"$v%.2f").mkString(",")} vs excluded=${on.map(v => f"$v%.2f").mkString(",")})")
    }
    spark.stop()
  }
}
