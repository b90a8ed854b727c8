package graft.ingest

import graft.TestSpark
import graft.api.IngestRequest
import graft.canon.CanonicalJson
import graft.chunk.ChunkAssigner
import java.nio.file.Files
import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The input-order chunk build (`IngestionPipeline.buildChunks`) against the
  * groupBy formulation it replaced, on input whose chunks straddle input
  * partitions, plus a guard on its one-shuffle shape. */
class ChunkBuildSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val cb = "http://127.0.0.1:1/cb"

  private def jsonFile(dir: java.nio.file.Path, name: String, ids: Range): Unit =
    Files.writeString(dir.resolve(name), ids.map { i =>
      s"""{"id": $i, "name": "n${"x" * (i % 7)}", "tags": ["t$i"], "price": $i.5}"""
    }.mkString("[\n", ",\n", "\n]"))

  /** Three JSON-array files of odd lengths: three input partitions, so
    * both count and byte chunks cross partition boundaries. */
  private lazy val threeFiles: String = {
    val dir = Files.createTempDirectory("graft_chunkbuild")
    jsonFile(dir, "a.json", 0 until 17)
    jsonFile(dir, "b.json", 100 until 123)
    jsonFile(dir, "c.json", 200 until 209)
    dir.toString
  }

  /** The groupBy / array_sort(collect_list) / sha2 build, kept here only as
    * the reference the one-shuffle build must reproduce. */
  private def reference(df: DataFrame, request: IngestRequest, lastChunk: Long): DataFrame = {
    val withRec = ChunkAssigner.withInputOrderRowNumber(df)
      .withColumn("rec", CanonicalJson(struct(df.columns.toIndexedSeq.map(col): _*)))
    val chunked = request.chunkSizeByRecords match {
      case Some(n) =>
        withRec.withColumn("chunk_number", lit(lastChunk + 1) + expr(s"rn div $n"))
      case None =>
        ChunkAssigner.assignByBytes(withRec, Seq(col("rn")), request.chunkSizeByMemory.get,
          octet_length(col("rec")).cast("long"), lastChunk = lastChunk)
    }
    chunked
      .groupBy(col("chunk_number"))
      .agg(count(lit(1)).as("n_records"),
        transform(array_sort(collect_list(struct(col("rn"), col("rec")))),
          x => x.getField("rec")).as("records"))
      .withColumn("checksum",
        sha2(concat(lit("["), array_join(col("records"), ","), lit("]")), 256))
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Seq[String], String)] =
    df.select("chunk_number", "n_records", "records", "checksum").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[String](2), r.getString(3)))
      .sortBy(_._1).toSeq

  private val requests = Seq(
    IngestRequest(threeFiles, "json", cb, chunkSizeByRecords = Some(5)),
    IngestRequest(threeFiles, "json", cb, chunkSizeByRecords = Some(4000)),
    IngestRequest(threeFiles, "json", cb, chunkSizeByMemory = Some(160L)),
    IngestRequest(threeFiles, "json", cb, chunkSizeByMemory = Some(1L))) // one record each

  test("one-shuffle build equals the groupBy reference across input partitions") {
    val df = IngestionPipeline.scan(spark, requests.head)
    assert(df.rdd.getNumPartitions == 3)
    for (req <- requests; lastChunk <- Seq(-1L, 6L)) {
      val (built, nChunks) = IngestionPipeline.buildChunksCounted(df, req, lastChunk)
      val got = rows(built)
      val want = rows(reference(df, req, lastChunk))
      assert(got == want, s"$req lastChunk=$lastChunk")
      assert(nChunks == want.size && want.head._1 == lastChunk + 1)
      assert(got.map(_._2).sum == 49)
      // partitions hold contiguous ascending chunk ranges, in partition order
      val perPart = built.rdd.mapPartitions(it => Iterator(it.map(_.getLong(0)).toList))
        .collect().toSeq
      assert(perPart.flatten == got.map(_._1), s"$req lastChunk=$lastChunk")
    }
    // the byte budget actually packs several records and straddles files
    assert(rows(IngestionPipeline.buildChunks(df, requests(2))).exists(_._2 > 1))
  }

  test("an empty input builds no chunks under either mode") {
    val empty = IngestionPipeline.scan(spark, requests.head).filter(lit(false))
    for (req <- requests; lastChunk <- Seq(-1L, 6L)) {
      val (built, nChunks) = IngestionPipeline.buildChunksCounted(empty, req, lastChunk)
      assert(nChunks == 0)
      assert(rows(built).isEmpty && rows(reference(empty, req, lastChunk)).isEmpty)
    }
  }

  private def shuffles(rdd: RDD[_]): Int = rdd.dependencies.map {
    case d: ShuffleDependency[_, _, _] => 1 + shuffles(d.rdd)
    case d => shuffles(d.rdd)
  }.sum

  test("the build has one shuffle and a single-file byte build samples nothing") {
    val dir = Files.createTempDirectory("graft_chunkshape")
    jsonFile(dir, "one.json", 0 until 300)
    val req = IngestRequest(dir.resolve("one.json").toString, "json", cb,
      chunkSizeByMemory = Some(400L))
    val df = IngestionPipeline.scan(spark, req) // schema inference runs here
    val sc = spark.sparkContext
    val (built, buildJobs) =
      org.apache.spark.JobProbe.stagesPerJob(sc)(IngestionPipeline.buildChunks(df, req))
    assert(shuffles(built.rdd) == 1)
    // one greedy fold job for the one input partition; no row numbering,
    // no range sampling, no per-chunk driver work
    assert(buildJobs == Seq(1))
    // materializing is one job: the shuffle map stage and the result stage
    val (out, runJobs) = org.apache.spark.JobProbe.stagesPerJob(sc)(rows(built))
    assert(runJobs == Seq(2))
    assert(out.map(_._2).sum == 300 && out.size > 1)
  }
}
