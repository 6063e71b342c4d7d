package org.apache.spark.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftExtensions, Tables}
import graft.graph.SparqlQueries
import graft.io.{CommentFramedTsv, CuratorTables, Sssom}
import graft.operators.{Dedup, GraphAlgos, PiiScrub}
import graft.pipeline.{BuildGraph, OmimPipeline}
import org.apache.spark.perfbench.Workloads.noop

/** Per-layer numbers of a traced run. Each layer is timed from outside,
  * around calls into the repo's public functions; a call's inputs are
  * materialized first, untimed, so its span covers only its own layer. */
object Layers {

  /** Runs `body` inside a span; jobs started meanwhile attach to it. */
  def span[T](spark: SparkSession, t: Trace, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Trace.SpanProperty)
    val s = t.open(name)
    sc.setLocalProperty(Trace.SpanProperty, s.id.toString)
    try body
    finally {
      t.close(s)
      sc.setLocalProperty(Trace.SpanProperty, prev)
    }
  }

  private def seconds(s: Trace.Span) = s.end - s.start

  private def under(t: Trace, root: Trace.Span): Seq[Trace.Span] = {
    val kids = t.spans.groupBy(_.parent)
    def walk(s: Trace.Span): Seq[Trace.Span] =
      s +: kids.getOrElse(s.id, Nil).toSeq.flatMap(walk)
    walk(root)
  }

  private def jobsUnder(t: Trace, root: Trace.Span): Int =
    under(t, root).count(_.name == "job")

  /** queries / catalyst / exec numbers of the run's last pass. Task-level
    * numbers cover every job of the pass, eager ones included. */
  def fromPass(t: Trace, cores: Int): Map[String, Double] = {
    val pass = t.spans.filter(_.name == "pass").last
    val all = under(t, pass)
    def phase(n: String) = all.filter(_.name == n)
    val stages = all.filter(_.name == "stage")
    def sum(k: String) = stages.map(_.attrs.getOrElse(k, 0.0)).sum
    val taskS = sum("task_s")
    Map(
      "queries.build_s" -> phase("queries.build").map(seconds).sum,
      "queries.eager_jobs" -> phase("queries.build").map(jobsUnder(t, _)).sum.toDouble,
      "catalyst.plan_s" -> phase("catalyst.plan").map(seconds).sum,
      "exec.s" -> phase("exec").map(seconds).sum,
      "exec.jobs" -> phase("exec").map(jobsUnder(t, _)).sum.toDouble,
      "exec.stages" -> stages.size.toDouble,
      "exec.tasks" -> sum("tasks"),
      "exec.task_s" -> taskS,
      "exec.cpu_s" -> sum("cpu_s"),
      "exec.gc_s" -> sum("gc_s"),
      "exec.core_util" -> taskS / (seconds(pass) * cores),
      "exec.one_task_stage_s" ->
        stages.filter(_.attrs.get("tasks").contains(1.0)).map(_.attrs.getOrElse("task_s", 0.0)).sum,
      "exec.shuffle_write_mb" -> sum("shuffle_write_mb"),
      "exec.shuffle_read_mb" -> sum("shuffle_read_mb"),
      "exec.spill_mb" -> sum("spill_mb"),
      "exec.input_mb" -> sum("input_mb"))
  }

  /** Every direct-call layer metric, zero where the workload does not
    * exercise the layer. */
  val DirectNames: Seq[String] = Seq(
    "operators.Dedup.minhashBands.s", "operators.Dedup.lshCandidatePairs.rows",
    "operators.Dedup.jaccardPairs.s", "operators.Dedup.jaccardPairs.kept_ratio",
    "operators.PiiScrub.scrub.s", "expressions.minhash_bands.rows_s",
    "expressions.bounded_levenshtein.rows_s", "expressions.nfkc_normalize.rows_s",
    "operators.GraphAlgos.pageRank.s", "operators.GraphAlgos.pageRank.jobs",
    "operators.Dedup.connectedComponents.s", "operators.Dedup.connectedComponents.jobs",
    "io.read_s", "io.Sinks.write_s", "io.bytes_written_mb", "io.files_written",
    "pipeline.OmimPipeline.tagAssociations.s", "graph.SparqlQueries.s", "pipeline.triples")

  def direct(spark: SparkSession, t: Trace, workload: String, data: String,
      work: String): Map[String, Double] = {
    val zero = DirectNames.map(_ -> 0.0).toMap
    val sp = t.open("layers", newOp = true)
    try zero ++ (workload match {
      case "omim_release" => omim(spark, t, data, work)
      case _ => corpus(spark, t, data)
    })
    finally t.close(sp)
  }

  /** Copies of each expression kernel's input column, per timed call. */
  val KernelReps = 8

  /** Times `body` in a span named `name`; returns (seconds, jobs started). */
  private def timed(spark: SparkSession, t: Trace, name: String)(body: => Unit): (Double, Double) = {
    var s: Trace.Span = null
    span(spark, t, name) { s = t.current.get; body }
    Listener.drain(spark.sparkContext)
    (seconds(s), jobsUnder(t, s).toDouble)
  }

  private def corpus(spark: SparkSession, t: Trace, data: String): Map[String, Double] = {
    val docs = Tables.documents(spark, data).select(col("doc_id"), col("text")).localCheckpoint()
    // the dedup queries' corpus: each doc plus a copy without its first word
    val corpus = docs.unionByName(docs.select((col("doc_id") + 100000).as("doc_id"),
      regexp_replace(col("text"), "^[^ ]+ ", "").as("text"))).localCheckpoint()
    val text = col("text"); val id = col("doc_id")

    val (bandsS, _) = timed(spark, t, "operators.Dedup.minhashBands")(
      noop(Dedup.minhashBands(corpus, text, id)))
    val bands = Dedup.minhashBands(corpus, text, id).localCheckpoint()
    val pairs = Dedup.lshCandidatePairs(bands).localCheckpoint()
    val nPairs = pairs.count().toDouble
    val (jacS, _) = timed(spark, t, "operators.Dedup.jaccardPairs")(
      noop(Dedup.jaccardPairs(corpus, text, id, pairs)))
    val kept = Dedup.jaccardPairs(corpus, text, id, pairs)
      .filter(col("jaccard") >= 0.4).count().toDouble
    val pii = withPii(docs)
    val (piiS, _) = timed(spark, t, "operators.PiiScrub.scrub")(noop(PiiScrub.scrub(pii, text)))

    GraftExtensions.register(spark)
    // each kernel runs over its column repeated KernelReps times, so the
    // span is mostly kernel time rather than job launch
    def rowsPerS(name: String, df: DataFrame, expr: String) = {
      val in = Seq.fill(KernelReps)(df).reduce(_ union _).localCheckpoint()
      in.count() / timed(spark, t, s"expressions.$name")(noop(in.selectExpr(expr)))._1
    }
    val dirty = dirtyText(corpus)
    val pairText = pairs
      .join(corpus.select(col("doc_id").as("id_a"), col("text").as("text_a")), "id_a")
      .join(corpus.select(col("doc_id").as("id_b"), col("text").as("text_b")), "id_b")
      .select("text_a", "text_b").localCheckpoint()

    // q112's graph on the document ids
    val n = docs.count()
    val edges = docs.select(col("doc_id").as("src"), explode(array(
        (col("doc_id") + 1) % n, (col("doc_id") + 2) % n,
        (col("doc_id") * 7 + 3) % n, (col("doc_id") * 13 + 5) % n)).as("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint()
    val (prS, prJobs) = timed(spark, t, "operators.GraphAlgos.pageRank")(
      noop(GraphAlgos.pageRank(edges, iters = 10, damping = 0.85, hasSinks = Some(false))))
    val (ccS, ccJobs) = timed(spark, t, "operators.Dedup.connectedComponents")(
      noop(Dedup.connectedComponents(pairs)))

    Map(
      "operators.Dedup.minhashBands.s" -> bandsS,
      "operators.Dedup.lshCandidatePairs.rows" -> nPairs,
      "operators.Dedup.jaccardPairs.s" -> jacS,
      "operators.Dedup.jaccardPairs.kept_ratio" -> (if (nPairs > 0) kept / nPairs else 0.0),
      "operators.PiiScrub.scrub.s" -> piiS,
      "expressions.minhash_bands.rows_s" ->
        rowsPerS("minhash_bands", corpus, "minhash_bands(text, 3, 4) AS b"),
      "expressions.bounded_levenshtein.rows_s" ->
        rowsPerS("bounded_levenshtein", pairText, "bounded_levenshtein(text_a, text_b, 60) AS d"),
      "expressions.nfkc_normalize.rows_s" ->
        rowsPerS("nfkc_normalize", dirty, "nfkc_normalize(text) AS t"),
      "operators.GraphAlgos.pageRank.s" -> prS,
      "operators.GraphAlgos.pageRank.jobs" -> prJobs,
      "operators.Dedup.connectedComponents.s" -> ccS,
      "operators.Dedup.connectedComponents.jobs" -> ccJobs)
  }

  /** q78's input: each doc gets synthesized PII by doc_id class (an email,
    * a phone, an SSN, an IPv4, or an email and a phone), so every rule of
    * the scrub cascade has matches. Materialized, so the scrub span covers
    * only the scrub. */
  private def withPii(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val istr = (e: Column) => e.cast("string")
    val email = concat(lit(" mail user"), istr(id), lit("@host"), istr(pmod(id, lit(7))), lit(".org"))
    val phone = concat(lit(" call ("), istr(pmod(id, lit(900)) + 100), lit(") "),
      istr(pmod(id, lit(800)) + 200), lit("-"), istr(pmod(id, lit(9000)) + 1000))
    val ssn = concat(lit(" ssn "), istr(pmod(id, lit(900)) + 100), lit("-"),
      istr(pmod(id, lit(90)) + 10), lit("-"), istr(pmod(id, lit(9000)) + 1000))
    val ip = concat(lit(" from "), istr(pmod(id, lit(256))), lit("."), istr(pmod(id * 3, lit(256))),
      lit("."), istr(pmod(id * 7, lit(256))), lit("."), istr(pmod(id * 11, lit(256))))
    docs.select(id, concat(col("text"),
      when(pmod(id, lit(5)) === 0, email).when(pmod(id, lit(5)) === 1, phone)
        .when(pmod(id, lit(5)) === 2, ssn).when(pmod(id, lit(5)) === 3, ip)
        .otherwise(concat(email, phone))).as("text")).localCheckpoint()
  }

  /** q95's dirty twin of the ASCII corpus: a BOM up front, every 'e'
    * decomposed to e + U+0301, a ZWSP after every space. Almost every row
    * has an 'e', so the kernel runs the normalizer, not its fast path. */
  private def dirtyText(docs: DataFrame): DataFrame =
    docs.select(concat(lit("\ufeff"), regexp_replace(
      regexp_replace(col("text"), "e", "e\u0301"), " ", " \u200b")).as("text")).localCheckpoint()

  private def omim(spark: SparkSession, t: Trace, data: String, work: String): Map[String, Double] = {
    val in = Workloads.omimInputs(data)
    def tsv(p: String) = spark.read.option("sep", "\t").option("header", "true").csv(p)
    def framed(p: String, cols: String*) =
      CommentFramedTsv.read(spark, p, if (cols.isEmpty) None else Some(cols))
    val titleCols = Seq("prefix", "mim", "pref_titles", "alt_titles", "inc_titles")
    val morbidCols = Seq("phenotype", "gene_symbols", "gene_mim", "cyto")
    val readers: Seq[(String, () => Unit)] = Seq(
      "mimTitles" -> (() => noop(framed(in.mimTitlesPath, titleCols: _*))),
      "mim2gene" -> (() => noop(framed(in.mim2genePath,
        "mim", "entry_type", "entrez_id", "hgnc_symbol", "ensembl_id"))),
      "morbidmap" -> (() => noop(framed(in.morbidmapPath, morbidCols: _*))),
      "phenotypicSeries" -> (() => noop(framed(in.phenotypicSeriesPath, "ps_id", "a", "b"))),
      "genemap2" -> (() => noop(framed(in.genemap2Path))),
      "hgnc" -> (() => noop(tsv(in.hgncPath))),
      "exclusions" -> (() => noop(CuratorTables.exclusions(spark, in.exclusionsPath))),
      "protected" -> (() => noop(CuratorTables.protected_(spark, in.protectedPath))),
      "capitalizations" -> (() => CuratorTables.knownCapitalizations(spark, in.capitalizationsPath)),
      "sssom" -> (() => noop(Sssom.readOmimToMondo(spark, in.sssomPath))),
      "mappings" -> (() => noop(tsv(in.mappingsPath))),
      "pubmed" -> (() => noop(tsv(in.pubmedRefsPath))))
    val readS = readers.map { case (n, f) => timed(spark, t, s"io.read.$n")(f())._1 }.sum

    // the cascade's inputs, as BuildGraph derives them
    val titles = OmimPipeline.parseMimTitles(framed(in.mimTitlesPath, titleCols: _*))
      .localCheckpoint()
    val symbolToId = OmimPipeline.hgncSymbolIdMap(tsv(in.hgncPath)).localCheckpoint()
    val protectd = CuratorTables.protected_(spark, in.protectedPath).localCheckpoint()
    val exclusions = CuratorTables.exclusions(spark, in.exclusionsPath).localCheckpoint()
    val morbid = OmimPipeline.augmentMorbidMap(
      OmimPipeline.parseMorbidMap(framed(in.morbidmapPath, morbidCols: _*)),
      protectd, titles, symbolToId).localCheckpoint()
    val assocs = morbid.filter(col("p_mim") =!= "").localCheckpoint()
    val (tagS, _) = timed(spark, t, "pipeline.OmimPipeline.tagAssociations")(
      noop(OmimPipeline.tagAssociations(assocs, exclusions, protectd)))

    val out = BuildGraph.build(spark, in, Workloads.VersionDate)
    val nTriples = out.triples.count().toDouble
    val graph = out.triples.toDF().localCheckpoint()
    val sparqlS = Seq[(String, DataFrame => DataFrame)](
      "addFlippedMondoMappings" -> SparqlQueries.addFlippedMondoMappings,
      "hgncLinks" -> SparqlQueries.hgncLinks,
      "diseaseGeneRelationships" -> SparqlQueries.diseaseGeneRelationships,
      "mondoOmimGenes" -> SparqlQueries.mondoOmimGenes)
      .map { case (n, f) => timed(spark, t, s"graph.SparqlQueries.$n")(noop(f(graph)))._1 }.sum

    val frozen = out.copy(
      reviewCases = out.reviewCases.localCheckpoint(),
      susceptibilityRows = out.susceptibilityRows.localCheckpoint(),
      diseaseGeneQc = out.diseaseGeneQc.localCheckpoint(),
      mondoOmimGenes = out.mondoOmimGenes.localCheckpoint(),
      morbidmapAugmented = out.morbidmapAugmented.localCheckpoint(),
      mim2geneAugmented = out.mim2geneAugmented.localCheckpoint())
    val dir = new java.io.File(s"$work/sinks")
    dir.mkdirs()
    val (sinkS, _) = timed(spark, t, "io.Sinks")(
      BuildGraph.writeArtifacts(spark, frozen, dir.getPath))
    val files = Option(dir.listFiles()).toSeq.flatten.flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))

    Map(
      "io.read_s" -> readS,
      "pipeline.OmimPipeline.tagAssociations.s" -> tagS,
      "pipeline.triples" -> nTriples,
      "graph.SparqlQueries.s" -> sparqlS,
      "io.Sinks.write_s" -> sinkS,
      "io.bytes_written_mb" -> files.map(_.length).sum / 1e6,
      "io.files_written" -> files.size.toDouble)
  }
}
