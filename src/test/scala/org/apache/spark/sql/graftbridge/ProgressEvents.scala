package org.apache.spark.sql.graftbridge

import java.util.{Collections, UUID}

import org.apache.spark.sql.streaming.{SinkProgress, SourceProgress, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** Progress events for listener tests: the progress constructors are
  * `private[spark]`, so a test that feeds a listener without running a
  * stream builds them here.
  */
object ProgressEvents {

  /** One batch of query `name` that read `rows` input rows from one source. */
  def progress(name: String, batchId: Long, rows: Long): QueryProgressEvent = {
    val source = new SourceProgress("test-source", "0", "1", "1", rows, 0.0, 0.0,
      Collections.emptyMap[String, String]())
    new QueryProgressEvent(new StreamingQueryProgress(UUID.randomUUID(), UUID.randomUUID(),
      name, "1970-01-01T00:00:00.000Z", batchId, 1L,
      Collections.emptyMap[String, java.lang.Long](), Collections.emptyMap[String, String](),
      Array.empty, Array(source), new SinkProgress("test-sink"),
      Collections.emptyMap[String, org.apache.spark.sql.Row]()))
  }
}
