package graft

/** Runner for the [[ExplainAudit]] plan auditor.
  *
  * Usage: runMain graft.AuditProbe --all | <query...>
  *
  * `<query...>` prints, per named query, the formatted pre-AQE physical
  * plan, the reviewed-broadcast notes, and the warnings of both nets;
  * a query with structural warnings also gets the hinted broadcast
  * sides and unpartitioned window children that tripped them. `--all`
  * sweeps the structural net over every registered query. Data comes
  * from SPARK_GRAFT_SF_DIR (default sf0.001).
  */
object AuditProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: AuditProbe --all | <query...>")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Harness.session()
    // --all: sweep the structural net over EVERY registered query
    // (r17 — proves the whole surface clean, allowlists applied per name)
    if (args.toSeq == Seq("--all")) {
      var bad = 0
      SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          val (ws, notes) = ExplainAudit.planWarningsDetail(df, Some(name))
          if (ws.nonEmpty) { bad += 1
            println(s"!! $name: ${ws.mkString("; ")}")
          } else if (notes.nonEmpty)
            println(s"-- $name: ${notes.size} allowlisted note(s)")
        } catch { case e: Throwable =>
          println(s"?? $name: construction failed: ${e.getMessage}")
        }
      }
      // collision-class defense (r18): every data-derived plan
      // constant recorded while constructing the 355 plans above must
      // be disjoint from the bounds registries — the lattice cannot
      // silently re-collide as SFs or generation laws change
      val coll = DerivedConstants.collisions()
      coll.foreach(c => println(s"!! derived-constant collision: $c"))
      println(s"derived constants recorded: ${DerivedConstants.recorded
        .map { case (q, l, v) => s"$q.$l=$v" }.mkString(", ")}")
      println(s"sweep done: ${bad + coll.size} queries with structural warnings")
      spark.stop()
      return
    }
    args.foreach { name =>
      println(s"\n======== $name ========")
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(plan)
      val (structural, allowlisted) = ExplainAudit.planWarningsDetail(df, Some(name))
      allowlisted.foreach(n => println(s"-- $n"))
      val warnings = ExplainAudit.stringWarnings(plan) ++ structural
      println(if (warnings.isEmpty) "WARNINGS: none"
        else warnings.mkString("WARNINGS:\n  ", "\n  ", ""))
      if (structural.nonEmpty) {
        import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join => LJoin}
        df.queryExecution.optimizedPlan.foreach {
          case j: LJoin =>
            Seq(j.hint.leftHint -> j.left, j.hint.rightHint -> j.right).foreach {
              case (Some(h), side) if h.strategy.contains(BROADCAST) =>
                println(s"--- hinted side:\n${side.treeString.take(3000)}")
              case _ =>
            }
          case _ =>
        }
        df.queryExecution.sparkPlan.foreach {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty =>
            println(s"--- unpartitioned window child:\n${w.child.treeString.take(3000)}")
          case _ =>
        }
      }
    }
    spark.stop()
  }
}
