package graft

/** The PlanCheck audit as a failing test: the pinned physical-plan
  * invariants (pushdown, broadcast dims, TakeOrderedAndProject top-k, no
  * stray shuffles) must hold on the sf0.001 plans. A regression — a filter
  * that stops pushing, a dim join degrading to sort-merge, a top-k turning
  * into a global sort — fails `sbt test`, not just a human reading the
  * PlanCheck report. The same pass is the construction-job census: no
  * query may run more Spark jobs while its DataFrame is built than its
  * checked-in ceiling.
  */
class PlanGateSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  /** The Spark jobs each query's DataFrame ran while it was built, in
    * the planning pass.
    */
  private val buildJobs = scala.collection.concurrent.TrieMap.empty[String, Int]

  // ONE planning pass shared by the gate tests — some gate queries run
  // real work (eager checkpoints, staging) just to build their DataFrame.
  // Registered tables hand `Tables.load` its schema, so no
  // footer-inference job counts as a build job, whatever ran earlier in
  // this JVM.
  private lazy val plans = {
    initLog()
    val s = spark.newSession()
    Tables.register(s, sfDir)
    PlanCheck.planStrings(s, sfDir, (name, build) => {
      val (df, jobs) = jobsUnderGroup(build())
      buildJobs(name) = jobs
      df
    })
  }

  test("audited physical plans keep their scale invariants at sf0.001") {
    val violations = PlanCheck.audit(plans)
    assert(violations.isEmpty, "\n" + violations.mkString("\n"))
  }

  test("no driver query builds its DataFrame in more jobs than its ceiling") {
    // build_jobs.tsv: `query<TAB>ceiling`, the build jobs each query ran
    // at sf0.001 in a fresh JVM. A change that adds construction jobs
    // fails here; one that removes some lowers the ceiling.
    plans
    val ceilings = scala.io.Source.fromResource("build_jobs.tsv").getLines()
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map(_.split('\t')).map(f => f(0) -> f(1).toInt).toMap
    val unknown = ceilings.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"ceilings for unknown queries: $unknown")
    val over = buildJobs.toSeq.sortBy(_._1).collect {
      case (q, n) if ceilings.get(q).forall(n > _) =>
        s"$q\t$n (ceiling ${ceilings.get(q).fold("none")(_.toString)})"
    }
    assert(over.isEmpty, "\n" + over.mkString("\n"))
  }

  test("rules only reference real driver queries") {
    val known = SparkEntry.queries.keySet
    val unknown = PlanCheck.rules.map(_.query).filterNot(known)
    assert(unknown.isEmpty, s"rules for unknown queries: $unknown")
  }

  test("no query grows an unpartitioned Window over non-broadcast input") {
    val violations = PlanCheck.windowLint(plans)
    assert(violations.isEmpty, "\n" + violations.mkString("\n"))
  }

  test("distinct-percent scale plan computes the distinct shuffle ONCE at runtime") {
    initLog()
    // The static plan spells the `( SELECT DISTINCT … )` subquery twice
    // (ranked side + stats side — r17 verdict "what's wrong" 1), but the
    // two references canonicalize to the same hash-partitioned exchange
    // and AQE's stage reuse executes the scan + partial distinct +
    // shuffle ONCE — only the cheap per-consumer final aggregation above
    // the reused stage is duplicated. This is a RUNTIME property the
    // static PlanCheck audit cannot see, so it is pinned here on the
    // finalized adaptive plan.
    val df = ops.DialectQueries.tsqlDistinctTopPercent.fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"), "expected a finalized adaptive plan")
    val finalPlan = plan.substring(0, plan.indexOf("+- == Initial Plan ==") match {
      case -1 => plan.length
      case i  => i
    })
    val reused = "ReusedExchange".r.findAllIn(finalPlan).length
    assert(reused >= 1,
      s"distinct shuffle not reused at runtime — the stats stage re-runs the full distinct:\n$finalPlan")
  }
}
