package graft.perfbench

import graft.{SparkEntry, Verify}
import graft.operators.KMeans
import graft.sources.{GoldenFormat, Pm25}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation of a workload pass: `build` is the call into the
  * engine that returns the result plan (eager work such as training
  * collects happens here), `sink` consumes it. A `null` plan means the
  * operation did all its work in `build`.
  */
final case class Op(name: String, build: SparkSession => DataFrame,
                    sink: (DataFrame, Boolean) => Unit)

/** A workload: the inputs its set-up resolves, and the operations of one
  * pass. `detail` holds workload-specific figures for the result file.
  */
trait Workload {
  def resolveInputs(spark: SparkSession): Unit
  def ops: Seq[Op]
  def detail: Map[String, Double] = Map.empty
}

object Workloads {
  /** Five data-bound TPC-H shapes (see README.md for the rule). */
  val Tpch: Seq[String] = Seq(1, 3, 12, 18, 21).map(i => s"q_tpch_q$i")

  /** Driver-side operator chains: an ANN index trained, saved and loaded, a
    * lexical index written and read back, and superstep rounds. Rows whose
    * oracle pins a recall band or calibrated rung of one corpus are left
    * out: on seeded inputs those constants do not hold for every seed.
    */
  val Pipeline: Seq[String] = Seq("q_ann_serve_persisted", "q_bm25_serve_persisted", "q_pagerank")

  def apply(name: String, data: String, out: String): Workload = name match {
    case "pm25_kmeans" => new KMeansWorkload(data, out)
    case "tpch_sf0.1" => new QueryWorkload(Tpch, data, out,
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem"))
    case "pipeline_sf0.01" => new QueryWorkload(Pipeline, data, out,
      Seq("documents", "embeddings"))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** `SparkEntry.queries` rows. The cold pass writes each result as one
  * ordered parquet part (Verify's rule) for the oracle check; warm passes
  * sink into `noop`.
  */
final class QueryWorkload(rows: Seq[String], data: String, out: String,
                          tables: Seq[String]) extends Workload {
  def resolveInputs(spark: SparkSession): Unit =
    tables.foreach(t => graft.Tables(spark, data, t).schema)

  val ops: Seq[Op] = rows.map { row =>
    Op(row, spark => SparkEntry.queries(row)(spark, data), (df, cold) =>
      if (cold) Verify.singleOrderedPartition(df).write.mode("overwrite")
        .parquet(s"$out/results/$row")
      else df.write.format("noop").mode("overwrite").save())
  }

  def oracles: Map[String, String] = rows.flatMap(r => SparkEntry.oracleSql.get(r).map(r -> _)).toMap
}

/** The reference's variant-1 job: seed centres, five Lloyd iterations with
  * the `SqEuclidean` metric over the CSV input, then a labeling pass written
  * as `clusterId\trow` lines through the golden single-file sink.
  */
final class KMeansWorkload(data: String, out: String) extends Workload {
  private val input = s"$data/pm25.txt"
  private val seedFile = s"$data/pm25.cluster.center.conf.txt"
  private var seeds: Array[Array[Double]] = _
  var fit: KMeans.Fit = _

  def resolveInputs(spark: SparkSession): Unit = Pm25.read(spark, input).schema

  val ops: Seq[Op] = Seq(
    Op("Pm25.centersFrom", spark => {
      seeds = Pm25.centersFrom(spark, seedFile, skipCols = 3); null
    }, (_, _) => ()),
    Op("KMeans.lloyd", spark => {
      fit = KMeans.lloyd(Pm25.read(spark, input), "vec", seeds, KMeans.SqEuclidean,
        maxIter = 5)
      null
    }, (_, _) => ()),
    Op("KMeans.label", spark => {
      import spark.implicits._
      KMeans.assign(Pm25.read(spark, input), "vec", fit.centers, KMeans.SqEuclidean)
        .select("cluster", "raw")
        .map(r => GoldenFormat.assignmentLine(r.getInt(0), r.getString(1))).toDF()
    }, (df, _) => {
      import df.sparkSession.implicits._
      GoldenFormat.writeSingleFile(df.as[String], s"$out/labels")
    }))

  override def detail: Map[String, Double] =
    if (fit == null) Map.empty else Map("KMeans.iterations" -> fit.iterations.toDouble)
}
