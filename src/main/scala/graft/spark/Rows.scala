package graft.spark

import scala.reflect.ClassTag

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution

/** Small results copied straight out of a query plan's rows: `f` reads each
  * row as the plan emits it (the row object is reused, so `f` copies), and
  * no row decoder — a generated class per result shape — is compiled. The
  * job runs as a SQL execution, like `Dataset.collect`: its tasks load
  * generated code through the session's class loader, so they share the
  * classes other queries of the session compiled. */
object Rows {
  def collect[T: ClassTag](df: DataFrame)(f: InternalRow => T): Array[T] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.toRdd.map(f).collect())
  }
}
