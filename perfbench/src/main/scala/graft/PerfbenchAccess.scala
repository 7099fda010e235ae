package graft

import org.apache.spark.sql.DataFrame

/** The one package-private graft function the benchmark calls, and only
  * to check its own copy of it: the traced run's stage spans
  * (perfbench.Flagship) re-run flagshipLabels stage by stage, and their
  * labels must equal the ones flagshipLabels gives for the same input. */
object PerfbenchAccess {
  def flagshipLabels(docs: DataFrame): DataFrame = SparkEntry.flagshipLabels(docs)
}
