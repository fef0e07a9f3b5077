package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dev utility: time registry queries and show their plans.
  *
  * Run: sbt "runMain graft.Profile n26_decontamination,a1_catalog_topk
  * [sfDir]" (sfDir defaults to sf0.1; cores from `SPARK_GRAFT_CPUS`, see
  * [[LocalSpark]]). Per name it prints `name RUNi=secs` for three full
  * executions — RUN1 carries one-time cost (stage builds, codegen) that
  * RUN2+ don't, so a family timed in one JVM still separates it from
  * steady-state operator cost — then the `explain("formatted")` plan.
  * PlanSpec pins the plan invariants.
  */
object Profile {

  /** Three `name RUNi=secs` lines and one formatted plan per name. Lazy
    * per name, so `main` prints each name's lines as soon as they exist.
    */
  def run(spark: SparkSession, names: Seq[String], dir: String): Seq[String] =
    names.to(LazyList).flatMap { name =>
      val fn = Queries.queries(name)
      // toRdd.count() executes the complete physical plan (df.count()
      // would let Catalyst prune unreferenced columns and drop sorts)
      val runs = (1 to 3).map { i =>
        val t0 = System.nanoTime()
        fn(spark, dir).queryExecution.toRdd.count()
        s"$name RUN$i=${(System.nanoTime() - t0) / 1e9}"
      }
      runs :+ fn(spark, dir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
    }

  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      spark.range(1000000).selectExpr("sum(id)").collect() // JVM warm-up
      run(spark, args(0).split(',').toSeq,
        args.lift(1).getOrElse("/root/testdata/sf0.1")).foreach(println)
    } finally spark.stop()
  }
}
