package graft.tools

import graft.Sessions
import graft.operators.Documents

/** q148 stage-level profile (r20): times the curation pipeline's component
  * boundaries (gate→dedup→decontam corpus, the temperature fan-out, the
  * full sharded manifest) so optimization lands on the dominant stage.
  * Each boundary is timed on a FRESH derivation in the same session, so a
  * stage's number includes its upstream — the deltas are the per-stage
  * costs.
  *
  * Usage: runMain graft.tools.CurDiag <sfDir>
  */
object CurDiag {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val s = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      "graft-cur-diag")
    s.sparkContext.setLogLevel("WARN")
    def time[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      System.err.println(f"[curdiag] $label%-30s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }
    graft.Tables.documents(s, d).count() // warm
    // pass 1 (artifact builds land here, off the per-stage clocks)
    time("q148 full (pass 1, builds)") {
      Documents.curationPipeline(s, d).queryExecution.toRdd.count()
    }
    time("curatedDocs (gate+dedup+decon)") {
      Documents.curatedDocs(s, d).queryExecution.toRdd.count()
    }
    time("q148 full (warm)") {
      Documents.curationPipeline(s, d).queryExecution.toRdd.count()
    }
    time("curatedDocs again") {
      Documents.curatedDocs(s, d).queryExecution.toRdd.count()
    }
    s.stop()
  }
}
object CurDiagB {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val s = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      "graft-cur-diag-b")
    s.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    def time[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      System.err.println(f"[curdiagB] $label%-30s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }
    val docs = graft.Tables.documents(s, d).withColumn("bucket",
      pmod(graft.functions.Text.portableHash(col("doc_id").cast("string")),
        lit(100L)))
    docs.count()
    // leg 1: frozen-NB gate scoring over the full corpus
    val model = graft.etl.Merge.materialize(s,
      graft.etl.Artifacts.path(s, "nb",
        graft.Tables.datasetTag(s, d, "documents")),
      Documents.nbTrainModel(docs.filter(col("bucket") < 90)
        .select(col("doc_id"), col("text"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"))))
    time("warm model build")(model.count())
    time("nbScoreAgainst all docs") {
      Documents.nbScoreAgainst(docs, model).queryExecution.toRdd.count()
    }
    time("nbScoreAgainst again") {
      Documents.nbScoreAgainst(docs, model).queryExecution.toRdd.count()
    }
    // leg 3: decontam scan over the full corpus
    time("decontamScan") {
      Documents.decontamScan(docs.select(col("doc_id"), col("text")),
        col("doc_id") % 17 === 3).queryExecution.toRdd.count()
    }
    time("decontamScan again") {
      Documents.decontamScan(docs.select(col("doc_id"), col("text")),
        col("doc_id") % 17 === 3).queryExecution.toRdd.count()
    }
    // leg 2: standing-artifact cluster repair
    val (pairsAll, standing) = Documents.ccrArtifacts(s, d)
    time("repairClusters (warm artifacts)") {
      Documents.repairClusters(standing, pairsAll,
        docs.select(col("doc_id")).limit(100)).queryExecution.toRdd.count()
    }
    s.stop()
  }
}
/** Finer q148 breakdown: repairClusters internals + the mix/shard tail. */
object CurDiagC {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val s = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      "graft-cur-diag-c")
    s.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    def time[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      System.err.println(f"[curdiagC] $label%-34s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }
    graft.Tables.documents(s, d).count()
    // warm everything once (artifact builds off the clocks)
    time("q148 full (pass 1, builds)") {
      Documents.curationPipeline(s, d).queryExecution.toRdd.count()
    }
    val docs = graft.Tables.documents(s, d).withColumn("bucket",
      pmod(graft.functions.Text.portableHash(col("doc_id").cast("string")),
        lit(100L)))
    val model = graft.etl.Merge.materialize(s,
      graft.etl.Artifacts.path(s, "nb",
        graft.Tables.datasetTag(s, d, "documents")),
      Documents.nbTrainModel(docs.filter(col("bucket") < 90)
        .select(col("doc_id"), col("text"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"))))
    val prior = model.agg(
      expr("(10000 * (sum(c1) + 1)) div (sum(c1) + sum(c0) + 2)")
        .as("prior_bp"))
    val gateIds = Documents.nbScoreAgainst(docs, model)
      .crossJoin(broadcast(prior))
      .filter(col("nb_en_bp") > col("prior_bp")).select(col("doc_id"))
      .localCheckpoint(true)
    val (pairsAll, standing) = Documents.ccrArtifacts(s, d)
    val gatedOut = docs.select(col("doc_id"))
      .join(gateIds, Seq("doc_id"), "left_anti")
    time("repairClusters(gatedOut) count") {
      Documents.repairClusters(standing, pairsAll, gatedOut)
        .queryExecution.toRdd.count()
    }
    val repaired = Documents.repairClusters(standing, pairsAll, gatedOut)
    val gated = docs.join(gateIds, Seq("doc_id"), "left_semi")
    val kept = time("elect over repaired") {
      val k = Documents.electCanonical(
        repaired.join(gated.select(col("doc_id"),
          size(graft.functions.Text.toWords(col("text"))).as("n_words")),
          Seq("doc_id"))
        .select(col("doc_id"), col("lbl").as("cluster_rep"),
          col("n_words")))
        .filter(col("keep")).select(col("doc_id"))
      k.queryExecution.toRdd.count(); k
    }
    time("curatedDocs full (warm)") {
      Documents.curatedDocs(s, d).queryExecution.toRdd.count()
    }
    val cd = Documents.curatedDocs(s, d).localCheckpoint(true)
    time("temperatureCopies + explode") {
      Documents.curationBase(s, d).queryExecution.toRdd.count()
    }
    time("q148 full (warm)") {
      Documents.curationPipeline(s, d).queryExecution.toRdd.count()
    }
    s.stop()
  }
}
object ExtDiag {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val s = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      "graft-ext-diag")
    s.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    def time[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      System.err.println(f"[extdiag] $label%-30s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }
    val li = graft.Tables.lineitem(s, d)
    li.count()
    val landed = floor(col("l_quantity")).cast("long")
    val attempted = landed + col("l_linenumber")
    val raw = when(col("l_orderkey") % 5 === 0, lit("N/A")).otherwise(
      concat(landed.cast("string"), lit(" of "), attempted.cast("string")))
    val base = li.select(col("l_orderkey"), col("l_linenumber"),
      raw.as("ratio_str"))
    time("build only")(base.queryExecution.toRdd.count())
    time("build + 2 regex") {
      base.select(col("l_orderkey"), col("l_linenumber"),
        graft.etl.Extract.ratioLanded(col("ratio_str")).cast("long").as("landed"),
        graft.etl.Extract.ratioAttempted(col("ratio_str")).cast("long").as("attempted"))
        .queryExecution.toRdd.count()
    }
    time("full q11 (with sort)") {
      graft.operators.Extraction.ratioParse(s, d).queryExecution.toRdd.count()
    }
    time("full q11 again") {
      graft.operators.Extraction.ratioParse(s, d).queryExecution.toRdd.count()
    }
    s.stop()
  }
}
