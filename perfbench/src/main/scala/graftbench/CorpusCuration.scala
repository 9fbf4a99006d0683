package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.Tables
import graft.dedup.Dedup
import graft.sim.Ivf
import graft.text.{TextOps, TokenPipeline}

/** corpus_curation: the LLM-data side over seeded documents and
  * embeddings.
  *
  * curation: tokenize, exact + MinHash-LSH + SimHash duplicate pairs,
  * duplicate clusters, keep one document per cluster, the bigram-LM
  * quality gate, and sequence packing into the noop sink. ann: an IVF
  * index fitted on the embeddings answers a fixed query set. */
object CorpusCuration {
  val Jobs = Seq("corpus.curation", "corpus.ann")
  val Spans = Seq("text.tokenize", "dedup.exact", "dedup.minhash_lsh", "dedup.simhash",
    "dedup.clusters", "text.lm_score", "text.pack", "sim.ivf_fit", "sim.ivf_search")
  /** Registered queries checked against DuckDB in set-up, over the first
    * OracleDocs documents: their oracle SQL is written for test-data
    * sizes. The MinHash-LSH and cluster oracles take minutes in DuckDB even
    * there (MinHash-LSH: 13 s for 100 documents on two DuckDB threads of a
    * 4-vCPU VM), so those two layers are checked on the driver instead,
    * over all documents: the MinHash-LSH pairs against the same algorithm
    * computed on the driver, and the clusters against union-find over the
    * job's own duplicate edges. */
  val Oracles = Seq("dedup_exact", "dedup_simhash_pairs", "tokens_lm_perplexity", "tokens_pack_chunks")
  val OracleDocs = 500
  val JaccardThreshold = 0.5
  // documents whose mean bigram log-likelihood falls below this are
  // dropped; on the generated corpora it keeps about half of them
  val MinAvgLogp = -7.3
  val ChunkSize = 128
  val Nlist = 16
  val Nprobe = 4
  val K = 10
  val MinRecall = 0.9
  private val packCols = Seq("source", "chunk_id", "tokens", "n_docs", "doc_starts", "n_tok")

  private def queries(emb: DataFrame): DataFrame = emb.filter(col("vec_id") % 20 === 0)

  /** `dedupS`: time from the job's start until the duplicate clusters
    * exist (pair generation and connected components run eagerly). */
  final case class Curated(minhash: DataFrame, edges: DataFrame, clusters: DataFrame, kept: DataFrame,
                           packed: Fingerprint, dedupS: Double)

  def curationJob(spark: SparkSession, dir: String, b: Boundary): Curated = b.job("corpus.curation") {
    val t0 = System.nanoTime()
    val docs = Tables.documents(spark, dir)
    val tokens = b.layer("text.tokenize")(TokenPipeline.fromDocuments(docs))
    val exact = b.layer("dedup.exact")(Dedup.exactDuplicates(docs))
    val minhash = b.layer("dedup.minhash_lsh")(Dedup.minhashLshPairs(docs))
    val simhash = b.layer("dedup.simhash")(Dedup.simhashPairs(docs))
    val edges = exact.select(col("doc_id").as("doc_a"), col("canonical_id").as("doc_b"))
      .union(minhash.select("doc_a", "doc_b"))
      .union(simhash.select("doc_a", "doc_b"))
    val clusters = b.layer("dedup.clusters")(Dedup.duplicateClusters(edges))
    val dedupS = (System.nanoTime() - t0) / 1e9
    // one document per duplicate cluster: its smallest doc_id
    val dropped = clusters.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").cast("string").as("doc_id"))
    // the kept documents fan out to the LM score and to packing
    val kept = tokens.join(dropped, Seq("doc_id"), "left_anti").persist(StorageLevel.MEMORY_AND_DISK)
    val scores = b.layer("text.lm_score")(TokenPipeline.lmScore(kept, kept))
    val good = kept.join(scores.filter(col("avg_logp") >= MinAvgLogp).select("doc_id"), "doc_id")
    b.eager("text.pack") {
      val (o, obs) = Fingerprint.observed(TokenPipeline.packChunks(good, ChunkSize), packCols)
      o.write.mode("overwrite").format("noop").save()
      val (fp, _) = Fingerprint.fromObservation(obs)
      Curated(minhash, edges, clusters, kept, fp, dedupS)
    }
  }

  final case class Ann(ids: Map[Long, Set[Long]], fp: Int, fitS: Double, searchS: Double)

  /** ann: fit the index, answer the query set, collect the answers. The
    * index build and the search are timed apart. */
  def annJob(spark: SparkSession, dir: String, b: Boundary): Ann = b.job("corpus.ann") {
    val emb = Tables.embeddings(spark, dir)
    val (index, fitS) = Main.timed(b.eager("sim.ivf_fit")(Ivf.fit(emb, Nlist)))
    val (rows, searchS) = Main.timed(b.eager("sim.ivf_search")(
      Ivf.search(emb, queries(emb), index, K, Nprobe).select("query_id", "vec_id").collect()))
    val ids = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    Ann(ids, ids.toSeq.sortBy(_._1).map { case (q, s) => (q, s.toSeq.sorted) }.hashCode, fitS, searchS)
  }

  /** Exact cosine top-k of every query, computed on the driver. */
  private def exactTopK(spark: SparkSession, dir: String): Map[Long, Set[Long]] = {
    val vecs = Tables.embeddings(spark, dir).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val unit = vecs.map { case (id, v) =>
      val n = math.sqrt(v.map(x => x * x).sum)
      id -> v.map(_ / n)
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    unit.filter(_._1 % 20 == 0).map { case (q, qv) =>
      q -> unit.collect { case (id, v) if id != q => (id, dot(qv, v)) }
        .sortBy(x => (-x._2, x._1)).take(K).map(_._1).toSet
    }.toMap
  }

  private def recall(got: Map[Long, Set[Long]], exact: Map[Long, Set[Long]]): Double =
    exact.map { case (q, want) => (got.getOrElse(q, Set.empty) intersect want).size }.sum.toDouble /
      exact.values.map(_.size).sum

  private def shingles(text: String): Set[String] = {
    val w = text.trim.split("\\s+")
    (0 until math.max(w.length - 2, 1)).map(i => w.slice(i, i + 3).mkString(" ")).toSet
  }

  private def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = (a intersect b).size.toDouble
    inter / (a.size + b.size - inter)
  }

  /** MinHash-LSH pairs computed on the driver as the `dedup_minhash_lsh`
    * oracle SQL defines them: NumMinhash minhashes (a_j * h + b_j) mod p of
    * the shingles' 60-bit md5 prefixes h mod p, bands of BandSize
    * minhashes, buckets of 2 to DefaultBucketCap documents, and candidates
    * kept when their exact Jaccard reaches the threshold. */
  private def referenceMinhashPairs(sh: Map[Long, Set[String]]): Map[(Long, Long), Double] = {
    val p = TextOps.HashPrime
    val md5 = java.security.MessageDigest.getInstance("MD5")
    // the first 15 hex digits of the digest are the top 60 bits of its
    // first 8 bytes
    def hash(s: String): Long =
      (java.nio.ByteBuffer.wrap(md5.digest(s.getBytes("UTF-8"))).getLong >>> 4) % p
    val banded = sh.toSeq.flatMap { case (d, shingles) =>
      val hs = shingles.toSeq.map(hash)
      val sig = (0 until Dedup.NumMinhash).map(j => hs.map(h => (Dedup.minhashA(j) * h + Dedup.minhashB(j)) % p).min)
      sig.grouped(Dedup.BandSize).zipWithIndex.map { case (key, band) => (band, key) -> d }
    }
    val buckets = banded.groupMap(_._1)(_._2).values
      .filter(ids => ids.size >= 2 && ids.size <= Dedup.DefaultBucketCap)
    val cand: Set[(Long, Long)] = buckets.flatMap(ids => for (a <- ids; b <- ids if a < b) yield (a, b)).toSet
    cand.iterator.map { case (a, b) => (a, b) -> jaccard(sh(a), sh(b)) }.filter(_._2 >= JaccardThreshold).toMap
  }

  /** Set-up checks of the layers whose DuckDB oracles are too slow: the
    * MinHash-LSH pairs, with their Jaccard, equal the driver-side
    * reference, and the clusters are the connected components of the
    * duplicate edges. */
  private def referenceChecks(spark: SparkSession, dir: String, gate: Gate, report: Report,
                              c: Curated): Unit = {
    val sh = Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> shingles(r.getString(1))).toMap
    val wantPairs = referenceMinhashPairs(sh)
    val rows = c.minhash.select("doc_a", "doc_b", "jaccard").collect()
    val gotPairs = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val missing = wantPairs.keySet -- gotPairs.keySet
    val wrong = gotPairs.filterNot { case (k, j) => wantPairs.get(k).contains(j) }
    report.named("minhash_pairs", rows.length, "count")
    gate.check("MinHash-LSH pairs equal the driver-side reference",
      rows.length == gotPairs.size && missing.isEmpty && wrong.isEmpty,
      s"${rows.length} pairs (${gotPairs.size} distinct), reference ${wantPairs.size}: ${missing.size} missing, " +
        s"${wrong.size} not in the reference or with another Jaccard, e.g. ${missing.headOption.orElse(wrong.headOption).getOrElse("")}")
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for (r <- c.edges.collect()) {
      val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val want = parent.keys.map(v => v -> find(v)).toMap
    val sizes = want.values.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = c.clusters.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    gate.check("duplicate clusters equal union-find components",
      got == want.map { case (v, root) => v -> (root, sizes(root)) },
      s"${got.size} clustered docs, union-find has ${want.size}")
  }

  /** Checks run after each timed job, before its persisted frames go. */
  private def checkCuration(gate: Gate, c: Curated): Unit = {
    gate.same("corpus.clusters", Fingerprint.of(c.clusters))
    gate.same("corpus.packed", c.packed)
  }

  private def checkAnn(gate: Gate, a: Ann, exact: Map[Long, Set[Long]]): Double = {
    val r = recall(a.ids, exact)
    gate.check("IVF recall@10 against exact top-10", r >= MinRecall, s"recall=$r")
    gate.same("corpus.ann", a.fp)
    r
  }

  def run(spark: SparkSession, dir: String, seconds: Double, trace: Boolean,
          listener: GroupListener, gate: Gate, report: Report): Unit = {
    OracleOutputs.writeSql(dir, Oracles)
    Main.step("oracle queries") {
      val tables = OracleOutputs.tables(dir)
      Tables.documents(spark, dir).filter(col("doc_id") < OracleDocs)
        .write.mode("overwrite").parquet(s"$tables/documents.parquet")
      OracleOutputs.runQueries(spark, tables, dir, Oracles)
    }
    val exact = Main.step("exact top-k")(exactTopK(spark, dir))
    val nDocs = Tables.documents(spark, dir).count()
    val c0 = Main.step("warm curation")(curationJob(spark, dir, Untraced))
    Main.step("reference checks")(referenceChecks(spark, dir, gate, report, c0))
    // the ann job runs once per iteration, so it is warmed up here
    Main.step("warm ann")(checkAnn(gate, annJob(spark, dir, Untraced), exact))
    checkCuration(gate, c0)
    c0.kept.unpersist(blocking = true)
    report.named("packed_chunks", c0.packed.rows, "count")
    gate.check("the quality gate leaves documents to pack", c0.packed.rows > 0)
    Heap.sample()
    println("SETUP_DONE")
    System.out.flush()

    val times = Map(Jobs.map(_ -> collection.mutable.ArrayBuffer[Double]()): _*)
    val traced = Map(Jobs.map(_ -> collection.mutable.ArrayBuffer[Double]()): _*)
    val fitS = collection.mutable.ArrayBuffer[Double]()
    val searchS = collection.mutable.ArrayBuffer[Double]()
    val dedupS = collection.mutable.ArrayBuffer[Double]()
    val recalls = collection.mutable.ArrayBuffer[Double]()
    val tracer = new Traced(spark)
    val iterations = Main.loop(seconds, if (trace) 2 else 1) { i =>
      val b: Boundary = if (trace && i % 2 == 1) { tracer.iter = i; tracer } else Untraced
      val into = if (b eq tracer) traced else times
      // the curation job carries both gated metrics, so an untraced
      // iteration runs it twice, with the ann job between the two runs
      def curation(): Double = {
        val (c, tc) = Main.timed(curationJob(spark, dir, b))
        checkCuration(gate, c)
        c.kept.unpersist(blocking = true)
        b.release()
        into("corpus.curation") += tc
        if (b eq Untraced) dedupS += c.dedupS
        tc
      }
      val cur1 = curation()
      val (a, ta) = Main.timed(annJob(spark, dir, b))
      recalls += checkAnn(gate, a, exact)
      into("corpus.ann") += ta
      if (b eq Untraced) { fitS += a.fitS; searchS += a.searchS }
      val curs = if (b eq tracer) Seq(cur1) else Seq(cur1, curation())
      println(f"INFO iteration $i traced=${b eq tracer} curation=${curs.map(t => f"$t%.3f").mkString(",")} ann=$ta%.3f")
      Heap.sample()
    }
    val tCur = Stats.median(times("corpus.curation"))
    val tAnn = Stats.median(times("corpus.ann"))
    report.named("curation_docs_per_s", nDocs / tCur, "1/s")
    report.named("ann_s", tAnn, "s")
    report.named("iterations", iterations, "count")
    report.e2e("throughput_per_s", nDocs / tCur, "1/s")
    report.named("ivf_recall_at_10", recalls.min, "ratio")
    report.named("dedup_s", Stats.median(dedupS), "s")
    report.named("ivf_fit_s", Stats.median(fitS), "s")
    report.named("ivf_search_s", Stats.median(searchS), "s")
    report.e2e("second_ms", Stats.median(dedupS) * 1e3, "ms")
    if (trace) {
      listener.drain()
      val spans = tracer.recorded
      Main.layerMetrics(report, listener, spans, Spans)
      Main.coverage(gate, report, spans, Jobs)
      val overhead = Jobs.map(j => Stats.median(traced(j))).sum / (tCur + tAnn) - 1
      report.named("trace.overhead_ratio", overhead, "ratio")
      report.layer("trace.overhead_ratio", overhead, "ratio")
      Main.writeSpans(dir, listener, spans)
    }
  }
}
