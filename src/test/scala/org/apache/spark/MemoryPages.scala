package org.apache.spark

/** Test access to Spark's package-private memory manager: the Tungsten
  * page size the running SparkContext allocates with. */
object MemoryPages {
  def pageSizeBytes: Long = SparkEnv.get.memoryManager.pageSizeBytes
}
