package graft

import org.apache.spark.{SparkException, TaskContext}

import graft.plans.Tasks

/** [[graft.plans.Tasks]]: one result per partition, in partition order,
  * and a task that does not serialize fails its job as Spark's closure
  * check would have.
  */
class TasksSpec extends SparkSpec {
  import TasksSpec._

  test("each partition's result comes back in partition order") {
    val rdd = spark.sparkContext.parallelize(1L to 100L, 7)
    val (sums, jobs) = countJobs(Tasks.collect(rdd, Sum))
    assert(jobs == 1)
    assert(sums.toSeq == rdd.glom().collect().map(_.sum).toSeq)
  }

  test("a task that does not serialize fails the job with Task not serializable") {
    val rdd = spark.sparkContext.parallelize(1L to 10L, 2)
    val e = intercept[SparkException](Tasks.collect(rdd, new Holds(new Object)))
    assert(e.getMessage.contains("Task not serializable"), e.getMessage)
  }
}

object TasksSpec {
  object Sum extends ((TaskContext, Iterator[Long]) => Long) with Serializable {
    def apply(ctx: TaskContext, it: Iterator[Long]): Long = it.sum
  }

  /** Serializable in name only: it holds a field that is not. */
  final class Holds(lock: Object) extends ((TaskContext, Iterator[Long]) => Long) with Serializable {
    def apply(ctx: TaskContext, it: Iterator[Long]): Long = lock.synchronized(it.size.toLong)
  }
}
