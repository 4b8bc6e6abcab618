package graft.pipeline

import graft.model.Doc
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The benchmark's layer replay needs `Pipeline.run`'s stage-0 call, which
  * is package-private; this forwarder exposes it to the benchmark only.
  */
object PerfbenchAccess {
  def precollapse(spark: SparkSession, docs: Dataset[Doc]): (Dataset[Doc], Option[DataFrame]) =
    Pipeline.precollapse(docs)(spark)
}
