package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Order-independent fingerprint of a frame: row count plus two sums of a
  * per-row 64-bit hash over every column. Equal outputs give equal
  * fingerprints whatever the partitioning or row order. */
final case class Fingerprint(rows: Long, sumLo: Long, xor: Long) {
  override def toString: String = f"rows=$rows sum=$sumLo%x xor=$xor%x"
}

object Fingerprint {
  private def rowHash(df: DataFrame): Column = xxhash64(df.columns.map(c => df(c)): _*)

  private def aggs(df: DataFrame): Seq[Column] = {
    val h = rowHash(df)
    Seq(count(lit(1)).as("fp_rows"),
      // 31-bit terms: the sum cannot overflow below 2^32 rows
      sum(pmod(h, lit(2147483647L))).as("fp_sum"),
      bit_xor(h).as("fp_xor"))
  }

  def of(df: DataFrame): Fingerprint = {
    val a = aggs(df)
    val r = df.agg(a.head, a.tail: _*).head()
    Fingerprint(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** `df` with an observation attached that fingerprints `cols` of every
    * row (plus any `extra` aggregates) while the terminal action runs, so
    * the check costs no extra pass over the data. */
  def observed(df: DataFrame, cols: Seq[String], extra: Column*): (DataFrame, Observation) = {
    val obs = Observation()
    val all = aggs(df.select(cols.map(df(_)): _*)) ++ extra
    (df.observe(obs, all.head, all.tail: _*), obs)
  }

  def fromObservation(obs: Observation): (Fingerprint, Map[String, Any]) = {
    val m = obs.get
    def long(k: String): Long = Option(m(k)).map(_.asInstanceOf[Number].longValue()).getOrElse(0L)
    (Fingerprint(long("fp_rows"), long("fp_sum"), long("fp_xor")), m)
  }
}

/** Counts checks and failures; every failure is printed with its reason. */
final class Gate {
  var attempted = 0
  var failed = 0

  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      println(s"CHECK FAIL $name $detail")
    }
    ok
  }

  /** The first value seen under `key` is the reference; later values must
    * equal it. */
  private val reference = mutable.Map[String, Any]()
  def same(key: String, v: Any): Boolean = reference.get(key) match {
    case None => reference(key) = v; true
    case Some(r) => check(s"fingerprint $key", r == v, s"expected $r got $v")
  }
}

/** Set-up outputs for the value-exact DuckDB comparison. A checked output
  * goes to `<dir>/verify/<name>/` as parquet, where `<name>` is the
  * registered query with the same semantics, and that query's oracle SQL
  * to `<dir>/verify/oracle_sql.json`. The run script compares them. */
object OracleOutputs {
  def path(dir: String, name: String): String = Paths.get(dir, "verify", name).toString

  /** Where a workload puts the tables its registered queries read, when
    * they are not the generated tables themselves. */
  def tables(dir: String): String = Paths.get(dir, "verify", "tables").toString

  /** Runs registered queries over the tables in `tablesDir` and stores
    * their outputs, for layers whose benchmark output has no registered
    * twin. */
  def runQueries(spark: SparkSession, tablesDir: String, dir: String, names: Seq[String]): Unit =
    names.foreach(n =>
      graft.SparkEntry.queries(n)(spark, tablesDir).write.mode("overwrite").parquet(path(dir, n)))

  def writeSql(dir: String, names: Seq[String]): Unit = {
    val sqls = graft.SparkEntry.oracleSql
    val byName = new java.util.LinkedHashMap[String, String]()
    names.foreach(n => byName.put(n, sqls(n)))
    Files.createDirectories(Paths.get(dir, "verify"))
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(Paths.get(dir, "verify", "oracle_sql.json").toFile, byName)
  }
}

/** Heap in use after a full collection, at chosen points; the peak is the
  * memory a workload keeps live (caches, state, models). */
object Heap {
  private var peakMb = 0.0

  def sample(): Double = {
    // the first collection lets Spark's cleaner drop the blocks of frames
    // nothing references any more; the second frees them
    System.gc()
    Thread.sleep(300)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    peakMb = math.max(peakMb, used)
    used
  }

  def peak: Double = peakMb
}

object Stats {
  def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.toSeq.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
