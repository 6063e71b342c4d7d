package org.apache.spark.perfbench

import org.apache.spark.sql.SparkSession

import graft.{Main, SparkEntry}
import graft.pipeline.BuildGraph
import org.apache.spark.perfbench.Harness.{Built, Op}

/** The named workloads: their ops, their warm-up, and whether a run times
  * warm passes after the cold one. */
final case class Workloads(ops: Seq[Op], warmup: SparkSession => Unit,
    warmPasses: Boolean)

object Workloads {
  /** Fixed ontology version date, so every build writes identical bytes. */
  val VersionDate = "2026-01-07"

  /** PageRank with dangling mass: ten iterations of small dependent jobs
    * behind `Barrier.cut`s. */
  val IterativeOps: Seq[String] = Seq("q112b_pagerank_dangling")

  def apply(name: String, data: String, work: String): Workloads = name match {
    case "omim_release" => omimRelease(data, work)
    case "iterative_sf01" => queries(IterativeOps, data, work, "documents.parquet")
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Bench's warm-up: a codegen'd aggregate plus one small input read. */
  private def warm(spark: SparkSession, read: => org.apache.spark.sql.DataFrame): Unit = {
    noop(spark.range(1000).selectExpr("sum(id)"))
    noop(read)
  }

  /** `SparkEntry.queries` ops: the noop sink, except on the checked pass,
    * which writes the result as parquet for the oracle compare. */
  def queries(names: Seq[String], data: String, work: String, warmFile: String): Workloads = {
    val ops = names.map { n =>
      val fn = SparkEntry.queries(n)
      val build = (spark: SparkSession) => {
        val df = fn(spark, data)
        Built(Seq(df), check =>
          if (check) df.write.mode("overwrite").parquet(s"$work/check/$n") else noop(df))
      }
      Op(n, build, (spark, check) => build(spark).exec(check))
    }
    Workloads(ops, spark => warm(spark, spark.read.parquet(s"$data/$warmFile")),
      warmPasses = true)
  }

  /** The CLI's inputs, as `graft.Main.run` names them under `--data-dir`. */
  def omimInputs(d: String): BuildGraph.Inputs = BuildGraph.Inputs(
    mimTitlesPath = s"$d/mimTitles.txt", mim2genePath = s"$d/mim2gene.txt",
    morbidmapPath = s"$d/morbidmap.txt",
    phenotypicSeriesPath = s"$d/phenotypicSeries.txt",
    genemap2Path = s"$d/genemap2.txt", hgncPath = s"$d/hgnc_complete_set.txt",
    exclusionsPath = s"$d/exclusions-disease-gene.tsv",
    protectedPath = s"$d/protected-disease-gene.tsv",
    capitalizationsPath = s"$d/known_capitalizations.tsv",
    sssomPath = s"$d/mondo_exactmatch_omim.sssom.tsv",
    mappingsPath = s"$d/mappings.tsv", pubmedRefsPath = s"$d/pubmed-refs.tsv")

  /** One op = one full release build through the public CLI body, writing
    * omim.ttl and every TSV artifact under `work/release`. A release runs
    * once per JVM, so a run times only this cold build: no warm passes. */
  def omimRelease(data: String, work: String): Workloads = {
    val out = s"$work/release"
    val op = Op("omim_release",
      build = spark => {
        val o = BuildGraph.build(spark, omimInputs(data), VersionDate)
        Built(Seq(o.triples.toDF(), o.reviewCases, o.susceptibilityRows,
            o.diseaseGeneQc, o.mondoOmimGenes, o.morbidmapAugmented, o.mim2geneAugmented),
          _ => {
            // what Main.run does after the build: write, then count triples
            new java.io.File(out).mkdirs()
            BuildGraph.writeArtifacts(spark, o, out)
            o.triples.count()
          })
      },
      run = (spark, _) => {
        val rc = Main.run(Seq("--data-dir", data, "--out-dir", out, "-c",
          "--version-date", VersionDate), Some(spark))
        require(rc == 0, s"graft.Main.run exited $rc")
      })
    Workloads(Seq(op), spark => warm(spark,
      spark.read.option("sep", "\t").option("header", "true")
        .csv(s"$data/known_capitalizations.tsv")), warmPasses = false)
  }
}
