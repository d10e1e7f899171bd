package graft.tools

/** Write both TableReport HTML forms (static + interactive) for a fixture
  * table — the README demo artifact and the manual-inspection path for the
  * interactive report's inline JS.
  * Usage: runMain graft.tools.ReportDemo [sfDir] [outDir]
  */
object ReportDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/graft-report")
    val spark = graft.Sessions.local()
    val customer = graft.ops.Kernel.table(spark, sfDir, "customer")
    graft.operators.TableReport.writeHtml(customer, Seq("c_custkey"),
      s"$outDir/customer.html", title = "customer")
    graft.operators.TableReport.writeHtmlInteractive(customer, Seq("c_custkey"),
      s"$outDir/customer_interactive.html", title = "customer")
    println(s"wrote $outDir/customer.html and $outDir/customer_interactive.html")
    spark.stop()
  }
}
