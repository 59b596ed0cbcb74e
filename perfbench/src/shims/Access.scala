// Accessors for package-private entry points the benchmark drives.
// They forward only; no logic lives here.

package org.apache.spark {
  object BenchBus {
    /** block until the listener bus has delivered every queued event */
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package graft.queries {
  object BenchAccess {
    def tfOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      TextQueries.tfOf(docs)

    def landBm25Tables(s: org.apache.spark.sql.SparkSession,
                       tf: org.apache.spark.sql.DataFrame, idx: String,
                       mode: String, gen: Option[Long]): Unit =
      TextQueries.landBm25Tables(s, tf, idx, mode, gen)

    def bm25Serve(s: org.apache.spark.sql.SparkSession, idx: String,
                  terms: Seq[String], k: Int): org.apache.spark.sql.DataFrame =
      TextQueries.bm25Serve(s, idx, terms, k)
  }
}
