package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD

/** The one way graft runs a job of its own over an RDD: one task per
  * partition, each task's result collected to the driver.
  *
  * `rdd.mapPartitions(f).collect()` runs Spark's closure cleaner twice
  * per job, on `f` and on `collect`'s own closure, and the cleaner reads
  * and parses the bytecode of each closure's declaring class (a large
  * operator object, `RDD`, `SparkContext`) on every call. A task here is
  * an instance of a named class ([[IvfProbe.Scan]], `WalkCache`'s
  * `PackRows`, `PackEdges` and `PackIvf`); the cleaner returns at once
  * for a class whose name holds no `$anonfun$`, and the one closure
  * Spark sees is the task itself. The task must be serializable: the
  * scheduler fails a job whose task does not serialize with "Task not
  * serializable", as the cleaner would have.
  */
object Tasks {

  /** `task` over every partition of `rdd`, its results in partition order. */
  def collect[T, U: ClassTag](rdd: RDD[T], task: (TaskContext, Iterator[T]) => U): Array[U] = {
    val out = new Array[U](rdd.partitions.length)
    rdd.sparkContext.runJob(rdd, task, out.indices, (i: Int, u: U) => out(i) = u)
    out
  }
}
