package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Closed loop over a fixed list of `SparkEntry.queries` entries, one at a
  * time, each materialized through the `noop` sink as `graft.Bench` does.
  * Set-up runs the list twice untimed: once writing every result as parquet
  * for the DuckDB oracle check, once more through `noop` so the JIT has
  * settled before the timed passes (the first noop pass after the check pass
  * still runs ~25% slower than the third). Every pass runs the list in
  * another order, drawn from the seed: an entry's time depends on the one
  * before it (pass walls of one order differed from another's by up to 25%),
  * so a run's median pass averages over orders instead of fixing one.
  */
object Entries {
  val MinTimedPasses = 2

  def run(spark: SparkSession, tr: Tracer, work: Path, data: Path, names: Seq[String],
      seed: Long, seconds: Int, setupDone: () => Unit): Map[String, Any] = {
    val rng = new scala.util.Random(seed)
    def order(): Seq[String] = rng.shuffle(names)
    val dir = data.toString
    val fns = SparkEntry.queries
    val failed = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0L
    var failures = 0L
    def attempt(name: String, phase: String)(body: => Unit): Unit = {
      attempted += 1
      try body
      catch { case NonFatal(e) => failures += 1; failed(name) = s"$phase: ${e.getMessage}" }
      finally spark.catalog.clearCache() // entries cache() internally
    }

    order().foreach(n => attempt(n, "check pass") {
      fns(n)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(work.resolve("check").resolve(n).toString)
    })
    order().foreach(n => attempt(n, "warm-up pass") {
      fns(n)(spark, dir).write.format("noop").mode("overwrite").save()
    })
    setupDone()

    val build = mutable.Map.empty[String, List[Double]]
    val exec = mutable.Map.empty[String, List[Double]]
    val passWall = mutable.ArrayBuffer.empty[Double]
    val t0 = tr.now()
    tr.windowStart = t0
    while (passWall.size < MinTimedPasses || tr.now() - t0 < seconds * 1000000000L) {
      val p0 = tr.now()
      order().foreach { name =>
        tr.span("entry", "entry") { e =>
          attempt(name, "timed pass") {
            val b0 = tr.now()
            val df = tr.span("build", "entry", e)(_ => fns(name)(spark, dir))
            val b1 = tr.now()
            tr.span("execute", "entry", e)(_ => df.write.format("noop").mode("overwrite").save())
            val b2 = tr.now()
            build(name) = (b1 - b0) / 1e9 :: build.getOrElse(name, Nil)
            exec(name) = (b2 - b1) / 1e9 :: exec.getOrElse(name, Nil)
          }
        }
      }
      passWall += (tr.now() - p0) / 1e9
    }
    tr.windowEnd = tr.now()
    Map(
      "attempted" -> attempted, "failed" -> failures,
      "problems" -> failed.map { case (n, m) => s"$n: $m" }.toSeq,
      "build_s" -> build.toMap, "execute_s" -> exec.toMap,
      "passes" -> passWall.size, "pass_wall_s" -> passWall.toSeq,
      "oracle_sql" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap,
      "window_s" -> (tr.windowEnd - t0) / 1e9)
  }
}
