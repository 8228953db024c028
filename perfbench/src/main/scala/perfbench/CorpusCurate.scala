package perfbench

import java.nio.file.Path

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{DedupQueries, DocPipeline, VectorIndex}

/** `corpus_curate`: the LLM-corpus prep line over a generated documents /
  * embeddings pair. One op is one curation round — the cleaned corpus,
  * near-duplicate pairs, the exact similarity join, the curated packs,
  * an IVF index build and a search over it — each fully collected. */
final class CorpusCurate(spark: SparkSession, rec: Recorder, man: JsonNode,
    work: Path) extends Workload {
  private val data = work.resolve(man.get("data").asText).toString
  private val nDocs = man.get("n_docs").asLong
  private var round = 0

  def setup(rep: Int): Unit = runRound()

  def hasNext: Boolean = true

  def next(): Unit = runRound()

  private def runRound(): Unit = {
    val indexRoot = work.resolve("vindex").resolve(s"round-$round")
    round += 1
    rec.op("round", nDocs) { res =>
      Main.collectJson(DocPipeline.cleanedCorpus(spark, data)
        .select("doc_id", "source", "n_chars"), rec, "ext.clean",
        res.putObject("clean"))
      Main.collectJson(DedupQueries.docNeardup(spark, data), rec,
        "ext.neardup", res.putObject("neardup"))
      Main.collectJson(DedupQueries.docSimjoin(spark, data), rec,
        "ext.simjoin", res.putObject("simjoin"))
      Main.collectJson(DocPipeline.curatedPacks(spark, data), rec,
        "ext.curate", res.putObject("curate"))
      val idx = rec.span("ext.vindex_build")(VectorIndex.build(spark,
        Tables.embeddings(spark, data), indexRoot.toString))
      val queries = Tables.embeddings(spark, data)
        .filter(col("vec_id") >= 8 && col("vec_id") < 28)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Main.collectJson(idx.searchIvf(queries, 3), rec, "ext.vindex_search",
        res.putObject("search"))
    }
    rec.ops.last.put("index_bytes", Recorder.storage(Seq(indexRoot)).bytes)
    Main.deleteTree(indexRoot)
  }

  def finish(extra: ObjectNode, out: Path): Unit = {
    val o = extra.putObject("oracle_sql")
    o.put("clean", DocPipeline.pipelineOracle())
    o.put("neardup", DedupQueries.neardupOracle)
    o.put("simjoin", DedupQueries.docSimjoinOracle)
    o.put("curate", DocPipeline.curatedPacksOracle())
    o.put("search", graft.ext.SimilarityQueries.ivfOracle)
  }
}
