package graft

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec

/** Dev diagnostic: compile every WholeStageCodegen subtree of the named
  * queries and print the LARGEST JIT-visible method bytecode size per stage.
  *
  * Why this exists (VERDICT r5 §Next-6): in-battery runs degraded generated
  * aggregate code up to 150× (q01: 402 s in-battery, 1.6–2.7 s fresh JVM) and
  * the candidate mechanisms differ in remedy — methods past HotSpot's
  * -XX:DontCompileHugeMethods threshold (8000 bytecodes) NEVER JIT and need
  * `spark.sql.codegen.hugeMethodLimit` / narrower codegen, while JIT
  * deopt/profile pollution across hundreds of stages needs JVM isolation
  * (Bench's fresh-JVM passes). This prints the data that separates them;
  * findings recorded in PLANS.md §codegen-degradation.
  *
  * The audit runs the Bench session (AQE off), so the static plan exposes
  * its WholeStageCodegenExec nodes without executing anything.
  *
  * Usage: runMain graft.CodegenAudit [sfDir] [queryName ...] (default: the
  * round-5 degraders q01/g14/g15 + neighbors q04/q12). */
object CodegenAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.length > 1) args.toSeq.drop(1)
      else Seq("q01_pricing_summary", "g14_iif_band", "g15_fts_anchor",
        "q04_region_revenue", "q12_window_topk_per_cust")
    val spark = Bench.buildSession()
    val hugeLimit = spark.conf.get("spark.sql.codegen.hugeMethodLimit")
    println(s"[codegen] hugeMethodLimit=$hugeLimit jitHugeMethod=8000")
    for (name <- names) {
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan
      var stages = 0
      plan.foreach {
        case w: WholeStageCodegenExec =>
          stages += 1
          val (_, code) = w.doCodeGen()
          val (_, stats) = CodeGenerator.compile(code)
          val srcLines = code.body.count(_ == '\n')
          val jitOk = if (stats.maxMethodCodeSize > 8000) "EXCEEDS-JIT-LIMIT" else "jit-ok"
          println(s"[codegen] $name stage=${w.codegenStageId} maxMethodBytecode=${stats.maxMethodCodeSize} constPool=${stats.maxConstPoolSize} srcLines=$srcLines $jitOk")
        case _ => ()
      }
      if (stages == 0) println(s"[codegen] $name: no WholeStageCodegen stages (non-codegen plan)")
    }
    spark.stop()
  }
}
