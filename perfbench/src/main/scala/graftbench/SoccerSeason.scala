package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{SynActions, SynKloppy, SynOpta, SynStatsBomb, SynWyscout, Tables, TokenCodec}
import graft.sources.{Kloppy, Opta, StatsBomb, Wyscout}
import graft.streaming.SessionEngine
import graft.vaep.{Features, GameStates, VaepModel}
import graft.xt.XThreat

/** soccer_season: the paper's pipeline over a seeded season.
  *
  * Set-up stores the four providers' raw feeds and the tokenized action
  * table as parquet. Every job of an iteration starts from that stored
  * input: convert (the four provider converters), fit (decode, CEP,
  * features, xT fit, GBT pair fit) and valuation (decode, CEP, xT fit,
  * features, rating with the iteration's GBT pair, noop sink). */
object SoccerSeason {
  val Providers = Seq("statsbomb", "opta", "wyscout", "kloppy")
  val ActionCols = Seq("game_id", "action_id", "period_id", "time_seconds", "team_id",
    "player_id", "start_x", "start_y", "end_x", "end_y", "type_id", "result_id",
    "bodypart_id", "seq")
  val Jobs = Seq("soccer.convert", "soccer.fit", "soccer.valuation")
  val Spans: Seq[String] = Providers.map(p => s"sources.$p") ++ Seq("core.decode",
    "streaming.cep", "vaep.features", "xt.fit", "vaep.gbt_fit", "vaep.gbt_rate")
  /** Registered queries whose oracle SQL checks this workload in set-up:
    * the warm-up's own converter and CEP outputs, and registered twins of
    * the layers with no value-exact output of their own (the xT rating,
    * the VAEP feature families the GBT pair reads, the VAEP formula). */
  val RegisteredChecks = Seq("xt_rate", "vaep_features_location", "vaep_features_onehot",
    "vaep_features_state", "vaep_formula")
  val Oracles: Seq[String] = Providers.map(p => s"convert_${p}_full") ++
    Seq("stream_cep_from_tokens") ++ RegisteredChecks
  val GbtIterations = 10
  val FeatureCols: Array[String] = graft.queries.MlQueries.featureCols(3)
  // the GBT quality gates on held-out actions: AUROC above chance (as in
  // VaepModelSpec), and a Brier at most 2% above that of predicting the
  // class prior. The labels are weak: over ten seeds the pair's Brier was
  // 0.97-1.002 times the prior's, so a strict gate would fail on some
  // seeds, while a scrambled rating lands well above it (1.09)
  val MinAuroc = 0.5
  val MaxBrierOverPrior = 1.02
  val Labels = Seq("scores", "concedes")

  private def heldOut: Column = pmod(xxhash64(col("game_id"), col("action_id")), lit(5)) === 0

  /** Aggregates of a label's held-out Brier and of its class prior: the
    * label's rate on the training and on the held-out actions. */
  private def brierAggs(label: String): Seq[Column] = {
    val y = col(label).cast("double")
    Seq(avg(when(heldOut, pow(col(s"${label}_p") - y, 2))).as(s"brier_$label"),
      avg(when(!heldOut, y)).as(s"train_rate_$label"),
      avg(when(heldOut, y)).as(s"held_rate_$label"))
  }

  /** Held-out Brier of always predicting the training rate p of a label
    * whose held-out rate is q: mean((y - p)^2) = q(1 - 2p) + p^2. */
  private def priorBrier(trainRate: Double, heldRate: Double): Double =
    heldRate * (1 - 2 * trainRate) + trainRate * trainRate

  private def raw(p: String, events: DataFrame): DataFrame = p match {
    case "statsbomb" => SynStatsBomb.fromEvents(events)
    case "opta" => SynOpta.fromEvents(events)
    case "wyscout" => SynWyscout.fromEvents(events)
    case "kloppy" => SynKloppy.fromEvents(events)
  }

  private def convert(p: String, feed: DataFrame): DataFrame = p match {
    case "statsbomb" => StatsBomb.convertToActions(feed, SynStatsBomb.homeTeamId)
    case "opta" => Opta.convertToActions(feed, SynOpta.homeTeamId)
    case "wyscout" => Wyscout.convertToActions(feed, SynWyscout.homeTeamId)
    case "kloppy" => Kloppy.convertToActions(feed)
  }

  def setup(spark: SparkSession, dir: String): Unit = {
    val events = Tables.events(spark, dir)
    for (p <- Providers) raw(p, events).write.mode("overwrite").parquet(s"$dir/raw_$p")
    TokenCodec.encode(SynActions.fromEvents(events)).write.mode("overwrite").parquet(s"$dir/tokens")
  }

  /** convert: every provider's stored feed through its converter into the
    * noop sink (in the warm-up: into the set-up check's parquet). Returns
    * each provider's output fingerprint. */
  def convertJob(spark: SparkSession, dir: String, b: Boundary,
                 verify: Boolean = false): Seq[(String, Fingerprint)] =
    b.job("soccer.convert") {
      Providers.map { p =>
        b.eager(s"sources.$p") {
          val out = convert(p, spark.read.parquet(s"$dir/raw_$p")).select(ActionCols.map(col): _*)
          val (o, obs) = Fingerprint.observed(out, ActionCols)
          if (verify) o.write.mode("overwrite").parquet(OracleOutputs.path(dir, s"convert_${p}_full"))
          else o.write.mode("overwrite").format("noop").save()
          p -> Fingerprint.fromObservation(obs)._1
        }
      }
    }

  private def valued(spark: SparkSession, dir: String, b: Boundary): DataFrame = {
    val decoded = b.layer("core.decode")(
      TokenCodec.decode(spark.read.parquet(s"$dir/tokens")).withColumn("seq", col("action_id")))
    // the labeled actions fan out to the xT fit and the feature projection
    b.layer("streaming.cep")(SessionEngine.runBatch(decoded))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Game states and the numeric feature set the GBT pair is trained on
    * (the set of the registered vaep_ml_rate query), plus the xT rating. */
  private def features(valued: DataFrame, xt: Option[XThreat.Model], b: Boundary): DataFrame =
    b.layer("vaep.features") {
      val states = GameStates.withStates(Features.withGoalscore(valued), 3)
      val feats = (0 until 3).flatMap { i =>
        Features.time(i) ++ Features.startlocation(i) ++ Features.endlocation(i) ++
          Features.startpolar(i) ++ Features.endpolar(i) ++ Features.movement(i)
      } ++ (1 until 3).flatMap(i => Features.team(i) ++ Features.timeDelta(i)) ++
        Seq("goalscore_team", "goalscore_opponent", "goalscore_diff").map(col)
      states.select(Seq("game_id", "action_id", "seq", "period_id", "time_seconds", "team_id",
        "type_id", "result_id", "scores", "concedes").map(col) ++
        xt.map(m => XThreat.rateColumn(m).as("xt_value")) ++ feats: _*)
    }

  final case class Fit(xt: XThreat.Model, vaep: VaepModel.Fitted, valued: DataFrame)

  /** fit: decode, CEP, features, then the xT fit and the GBT pair fitted
    * on the training actions. */
  def fitJob(spark: SparkSession, dir: String, b: Boundary): Fit = b.job("soccer.fit") {
    val v = valued(spark, dir, b)
    val feats = features(v, None, b)
    val xt = b.eager("xt.fit")(XThreat.fit(v))
    val vaep = b.eager("vaep.gbt_fit")(
      VaepModel.fit(feats.filter(!heldOut), FeatureCols, maxIter = GbtIterations))
    Fit(xt, vaep, v)
  }

  /** `brier`: per label, the held-out Brier and that of the class prior. */
  final case class Valuation(rows: Long, fp: Fingerprint, brier: Map[String, (Double, Double)],
                             xt: XThreat.Model, valued: DataFrame)

  /** valuation: the fit chain, but it rates every action with a freshly
    * fitted xT surface and the given GBT pair into the noop sink. */
  def valuationJob(spark: SparkSession, dir: String, b: Boundary,
                   vaep: VaepModel.Fitted): Valuation = b.job("soccer.valuation") {
    val v = valued(spark, dir, b)
    val xt = b.eager("xt.fit")(XThreat.fit(v))
    val feats = features(v, Some(xt), b)
    b.eager("vaep.gbt_rate") {
      val rated = VaepModel.rate(vaep, feats).select("game_id", "action_id", "seq", "xt_value",
        "scores", "concedes", "scores_p", "concedes_p", "offensive_value", "defensive_value", "vaep_value")
      val (o, obs) = Fingerprint.observed(rated, Seq("game_id", "action_id", "xt_value"),
        Labels.flatMap(brierAggs): _*)
      o.write.mode("overwrite").format("noop").save()
      val (fp, m) = Fingerprint.fromObservation(obs)
      def d(k: String) = Option(m(k)).map(_.asInstanceOf[Number].doubleValue).getOrElse(Double.NaN)
      val brier = Labels.map(l =>
        l -> (d(s"brier_$l"), priorBrier(d(s"train_rate_$l"), d(s"held_rate_$l")))).toMap
      Valuation(fp.rows, fp, brier, xt, v)
    }
  }

  /** The per-iteration checks: every output's fingerprint equals the one
    * verified in set-up (the first valuation's is the reference; the
    * feature frame the GBT pair is fitted on is recomputed from the fit
    * job's persisted CEP output), and the GBT pair stays near or below
    * its class prior. */
  private def checkConvertFit(gate: Gate, conv: Seq[(String, Fingerprint)], fit: Fit): Unit = {
    conv.foreach { case (p, fp) => gate.same(s"convert_${p}_full", fp) }
    gate.same("stream_cep_from_tokens", Fingerprint.of(fit.valued))
    gate.same("soccer.fit.features", Fingerprint.of(features(fit.valued, None, Untraced)))
  }

  private def checkValuation(gate: Gate, fit: Fit, value: Valuation): Unit = {
    gate.same("soccer.valuation.xt", value.fp)
    gate.check("xT surface of fit and valuation agree", fit.xt.xT.sameElements(value.xt.xT))
    for ((l, (brier, prior)) <- value.brier)
      gate.check(s"held-out Brier ($l) against the class prior", brier <= prior * MaxBrierOverPrior,
        s"brier=$brier prior=$prior")
  }

  /** Held-out Brier and AUROC of a fitted pair (set-up only). */
  private def gbtGate(gate: Gate, report: Report, fit: Fit): Unit = {
    val probs = VaepModel.estimateProbabilities(fit.vaep, features(fit.valued, None, Untraced))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val aggs = Labels.flatMap(brierAggs)
    val rates = probs.agg(aggs.head, aggs.tail: _*).head()
    for (label <- Labels) {
      val (brier, auroc) = VaepModel.score(probs.filter(heldOut), label, s"${label}_p")
      val prior = priorBrier(rates.getAs[Double](s"train_rate_$label"), rates.getAs[Double](s"held_rate_$label"))
      report.named(s"gbt.heldout_brier.$label", brier, "ratio")
      report.named(s"gbt.heldout_prior_brier.$label", prior, "ratio")
      report.named(s"gbt.heldout_auroc.$label", auroc, "ratio")
      gate.check(s"held-out GBT gate ($label)", brier <= prior * MaxBrierOverPrior && auroc > MinAuroc,
        s"brier=$brier prior=$prior auroc=$auroc")
    }
    probs.unpersist(blocking = true)
  }

  def run(spark: SparkSession, dir: String, seconds: Double, trace: Boolean,
          listener: GroupListener, gate: Gate, report: Report): Unit = {
    Main.step("store feeds")(setup(spark, dir))
    // warm-up: the convert and fit jobs once, untimed. Their outputs go to
    // the set-up check against DuckDB, and their fingerprints are the
    // references every timed iteration must reproduce.
    OracleOutputs.writeSql(dir, Oracles)
    val conv0 = Main.step("warm convert")(convertJob(spark, dir, Untraced, verify = true))
    val fit0 = Main.step("warm fit")(fitJob(spark, dir, Untraced))
    fit0.valued.write.mode("overwrite").parquet(OracleOutputs.path(dir, "stream_cep_from_tokens"))
    Main.step("gbt gate")(gbtGate(gate, report, fit0))
    checkConvertFit(gate, conv0, fit0)
    fit0.valued.unpersist(blocking = true)
    Main.step("registered queries")(OracleOutputs.runQueries(spark, dir, dir, RegisteredChecks))
    Heap.sample()
    println("SETUP_DONE")
    System.out.flush()

    val times = Map(Jobs.map(_ -> collection.mutable.ArrayBuffer[Double]()): _*)
    val traced = Map(Jobs.map(_ -> collection.mutable.ArrayBuffer[Double]()): _*)
    var convRows = 0L
    var valRows = 0L
    val tracer = new Traced(spark)
    // the traced run alternates an untraced and a traced iteration, so
    // the tracing overhead compares like with like
    val iterations = Main.loop(seconds, if (trace) 2 else 1) { i =>
      val b: Boundary = if (trace && i % 2 == 1) { tracer.iter = i; tracer } else Untraced
      val into = if (b eq tracer) traced else times
      val (conv, tc) = Main.timed(convertJob(spark, dir, b))
      val (fit, tf) = Main.timed(fitJob(spark, dir, b))
      b.release()
      checkConvertFit(gate, conv, fit)
      // the valuation job is short and has no warm-up run of its own: it
      // runs five times per untraced iteration, and the median leaves out
      // the colder first runs
      val vals = (1 to (if (b eq tracer) 1 else 5)).map { _ =>
        val (value, tv) = Main.timed(valuationJob(spark, dir, b, fit.vaep))
        b.release()
        checkValuation(gate, fit, value)
        value.valued.unpersist(blocking = true)
        into("soccer.valuation") += tv
        (value, tv)
      }
      val value = vals.head._1
      fit.valued.unpersist(blocking = true)
      println(f"INFO iteration $i traced=${b eq tracer} convert=$tc%.3f fit=$tf%.3f valuation=${vals.map(_._2).map(t => f"$t%.3f").mkString(",")}")
      into("soccer.convert") += tc
      into("soccer.fit") += tf
      convRows = conv.map(_._2.rows).sum
      valRows = value.rows
      Heap.sample()
    }
    val tConv = Stats.median(times("soccer.convert"))
    val tFit = Stats.median(times("soccer.fit"))
    val tVal = Stats.median(times("soccer.valuation"))
    report.named("convert_rows_per_s", convRows / tConv, "1/s")
    report.named("fit_s", tFit, "s")
    report.named("valuation_rows_per_s", valRows / tVal, "1/s")
    report.named("iterations", iterations, "count")
    report.e2e("throughput_per_s", valRows / tVal, "1/s")
    report.e2e("second_ms", tFit * 1e3, "ms")
    if (trace) {
      listener.drain()
      val spans = tracer.recorded
      Main.layerMetrics(report, listener, spans, Spans)
      Main.coverage(gate, report, spans, Jobs)
      val overhead = Jobs.map(j => Stats.median(traced(j))).sum / Seq(tConv, tFit, tVal).sum - 1
      report.named("trace.overhead_ratio", overhead, "ratio")
      report.layer("trace.overhead_ratio", overhead, "ratio")
      Main.writeSpans(dir, listener, spans)
      // the single-threaded baseline: the same JVM, already warm, in a
      // one-core session
      spark.stop()
      val one = Main.session(1, dir)
      val fit = fitJob(one, dir, Untraced)
      val (v, t1) = Main.timed(valuationJob(one, dir, Untraced, fit.vaep))
      Seq(fit.valued, v.valued).foreach(_.unpersist(blocking = true))
      gate.same("soccer.valuation.xt", v.fp)
      report.named("valuation_local1_s", t1, "s")
      report.layer("valuation.speedup", t1 / tVal, "ratio")
    }
  }
}
