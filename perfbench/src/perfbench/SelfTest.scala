package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

/** Checks the benchmark itself, at a reduced `--scale`, for every workload:
  *  - seed 1 and seed 2 both pass their output checks, with the same item
  *    count and different output digests (the inputs follow the seed);
  *  - with a corrupted reference, the same seed reports a failed
  *    operation (the checks can fail).
  * Writes one line per workload and returns the process exit code.
  */
object SelfTest {
  def run(spark: SparkSession, a: Main.Args): Int = {
    val lines = Workload.names.map { name =>
      def once(seed: Long, corrupt: Boolean): (Long, Pass) = {
        val w = Workload(name, a.scale)
        w.setup(spark, new File(a.work, s"selftest-$name-$seed"), seed)
        w.reference(corrupt)
        val p = new Pass(spark, None)
        w.run(p)
        (w.items, p)
      }
      val (items1, p1) = once(1, corrupt = false)
      val (items2, p2) = once(2, corrupt = false)
      val (_, bad) = once(1, corrupt = true)
      val problems = Seq(
        (p1.failed == 0) -> s"seed 1 failed: ${p1.failures.mkString("; ")}",
        (p2.failed == 0) -> s"seed 2 failed: ${p2.failures.mkString("; ")}",
        (items1 == items2) -> s"item counts differ: $items1 vs $items2",
        (p1.digest != p2.digest) -> "seeds 1 and 2 gave the same output digest",
        (bad.failed > 0) -> "a corrupted reference was not reported as a failure",
      ).collect { case (false, msg) => msg }
      val verdict = if (problems.isEmpty) "PASS" else "FAIL"
      s"selftest $name $verdict items=$items1 digests=${p1.digest.toHexString}," +
        s"${p2.digest.toHexString} corrupted_failed=${bad.failed}/${bad.attempted}" +
        problems.map(" | " + _).mkString
    }
    val out = new PrintWriter(a.out, "UTF-8")
    try lines.foreach(out.println) finally out.close()
    if (lines.forall(_.contains(" PASS "))) 0 else 1
  }
}
