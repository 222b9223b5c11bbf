package org.apache.spark.sql

/** Bridge into `private[sql]` Spark internals.
  *
  * `Dataset.ofRows` lets us re-bind a DataFrame's logical plan to a
  * *different* SparkSession. Graft uses this for its two-engine
  * topology (Mallard runs two Flight servers, reference
  * `demo.py:565-568`): a table GET from engine A's session-local
  * catalog can be PUT into engine B's catalog and registered as a temp
  * view *in B's session*, without materializing anything — the logical
  * plan is the transfer payload, and Catalyst keeps optimizing through
  * it.
  */
object GraftBridge {
  def rebind(target: SparkSession, df: DataFrame): DataFrame =
    ofRows(target, df.queryExecution.analyzed)

  /** A DataFrame over `plan` (parsed or analyzed), analyzed in `spark`
    * — how the SQL verbs turn a parsed INSERT/MERGE source into a frame
    * without printing it back to SQL text.
    */
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column ⇄ catalyst Expression, for custom expressions like
    * graft.functions.DotProduct (`ExpressionUtils` is private[sql]).
    */
  def column(e: catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Drop a session-local temp view WITHOUT the public API's cascade
    * uncache: `spark.catalog.dropTempView` uncaches any cached plan the
    * view resolves to, which in Graft's two-engine topology would let
    * engine B's DROP evict a cached table engine A still serves —
    * Mallard's servers are isolated (`flight_server.py:167-183`), so
    * ours must be too.
    */
  def dropTempView(spark: SparkSession, name: String): Boolean =
    spark.asInstanceOf[classic.SparkSession]
      .sessionState.catalog.dropTempView(name)

  /** The session's registered temp view object for `name`: a new
    * object each time the view is (re)created, so identity tells
    * whether the view is still the one a caller registered.
    */
  def rawTempView(spark: SparkSession, name: String): Option[AnyRef] =
    spark.asInstanceOf[classic.SparkSession]
      .sessionState.catalog.getRawTempView(name)

  /** True iff `name` resolves in `spark` to Spark's own built-in
    * function: the session registry still holds the built-in entry, not
    * a temporary or SQL function registered over it. Session registries
    * start as a clone of the built-in one, so the entries are shared.
    */
  def isBuiltinFunction(spark: SparkSession, name: String): Boolean = {
    val id = catalyst.FunctionIdentifier(name)
    catalyst.analysis.FunctionRegistry.builtin.lookupFunction(id).exists { info =>
      spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
        .lookupFunction(id).exists(_ eq info)
    }
  }

  /** Block until every queued listener event is delivered — lets a
    * job-counting listener (PerTableCacheSpec, TablesSchemaCacheSpec,
    * benchkit's tracer) read totals without racing the async bus.
    * `listenerBus` is private[spark], hence the bridge. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000)

  // ---- Arrow IPC (TcpGate's columnar wire format) -----------------------
  //
  // The reference's data plane is Arrow RecordBatch streams end-to-end
  // (`flight_server.py:336-339`, `demo.py:112-114`). Spark already owns
  // a production Arrow encoder — the one backing `toPandas()` /
  // collectAsArrowToPython — so the gate reuses it instead of
  // hand-rolling vector writers: rows are encoded to record batches ON
  // THE EXECUTORS (`toArrowBatchRdd` is a Spark job), and the driver
  // only concatenates opaque byte payloads onto the socket.

  private def arrowConf(spark: SparkSession) = {
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    (conf.sessionLocalTimeZone,
      // matches toArrowBatchRdd's own flags, so the stream header this
      // bridge writes always agrees with the batch encoding
      conf.pandasStructHandlingMode == "legacy",
      conf.arrowUseLargeVarTypes)
  }

  /** Stream `df`'s Arrow record batches to `sink` in partition order,
    * encoding ALL partitions in parallel in ONE Spark job. Each batch
    * is a complete RecordBatch message; prepend the header from
    * [[arrowStreamHeader]] and append [[arrowStreamFooter]] to form a
    * spec-valid Arrow IPC stream.
    *
    * `toLocalIterator` would run one job per partition sequentially —
    * on a 32-partition result that serializes the encode onto one core
    * at a time (measured 18 s for 24M rows). This is the same
    * out-of-order-arrival / in-order-emit pump Spark's own
    * `collectAsArrowToPython` uses: results are handed to the driver as
    * tasks finish, buffered only while a predecessor partition is still
    * running, and written the moment they become contiguous. Worst-case
    * driver buffering is the full result (exactly the reference
    * server's behavior — it materializes the table before streaming,
    * `flight_server.py:348`); typical buffering is a small out-of-order
    * prefix.
    */
  def arrowBatchesPipelined(df: DataFrame)(sink: Array[Byte] => Unit): Unit = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    pumpInOrder(ds.sparkSession, ds.toArrowBatchRdd)(sink)
  }

  /** Like [[arrowBatchesPipelined]], but each partition re-encodes its
    * record batches with zstd Arrow IPC buffer compression ON THE
    * EXECUTORS (in parallel across partitions, not as a driver-side
    * afterthought). TcpGate's background `recompress` pass builds a
    * large result's cache entry with it: for the 24M-row flights GET
    * that is ~550 MB retained instead of ~1.7 GB. Emitted frames are
    * RecordBatch messages only (no header/footer): prepend
    * [[arrowStreamHeader]] / append [[arrowStreamFooter]] exactly as
    * with the uncompressed variant — compression is declared per batch
    * in the flatbuffer metadata, so the stream stays spec-valid and
    * self-describing regardless of which header precedes it.
    */
  def arrowBatchesPipelinedCompressed(df: DataFrame)(sink: Array[Byte] => Unit): Unit = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession
    val header = arrowStreamHeader(spark, ds.schema)
    val footer = arrowStreamFooter(spark, ds.schema)
    val rdd = ds.toArrowBatchRdd.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        // rebuild a complete IPC stream for this partition (header +
        // batches + footer), recompress it streaming, then split back
        // into messages and keep only the RecordBatch frames — the
        // schema/footer frames are re-emitted once by the caller
        val parts = Iterator.single(header) ++ it ++ Iterator.single(footer)
        val en = new java.util.Enumeration[java.io.InputStream] {
          def hasMoreElements: Boolean = parts.hasNext
          def nextElement(): java.io.InputStream =
            new java.io.ByteArrayInputStream(parts.next())
        }
        val packed = recompressIPC(new java.io.SequenceInputStream(en), "zstd")
        val frames = splitIPCMessages(packed)
        frames.slice(1, frames.length - 1).iterator
      }
    }
    pumpInOrder(spark, rdd)(sink)
  }

  /** Stream `rdd`'s byte payloads to `sink` in partition order while
    * computing ALL partitions in one parallel Spark job (the
    * out-of-order-arrival / in-order-emit pump described on
    * [[arrowBatchesPipelined]]). When `sink` throws (a client that went
    * away, a byte bound crossed) the job is cancelled on the way out:
    * left running, it would keep encoding and park every remaining
    * partition in `slots` on the driver.
    */
  private def pumpInOrder(spark: classic.SparkSession,
      rdd: org.apache.spark.rdd.RDD[Array[Byte]])(sink: Array[Byte] => Unit): Unit = {
    val n = rdd.getNumPartitions
    if (n == 0) return
    val slots = new java.util.concurrent.ConcurrentHashMap[Integer, Array[Array[Byte]]]()
    val ready = new java.util.concurrent.Semaphore(0)
    val fut = spark.sparkContext.submitJob[Array[Byte], Array[Array[Byte]], Unit](
      rdd, _.toArray, 0 until n,
      // runs on the scheduler event loop — enqueue only, never block
      (pid, data) => { slots.put(pid, data); ready.release() },
      ())
    var next = 0
    try {
      while (next < n) {
        // poll instead of a blind block: a failed job never delivers the
        // missing partition, and the failure must propagate, not deadlock
        if (!ready.tryAcquire(100, java.util.concurrent.TimeUnit.MILLISECONDS)) {
          fut.value.foreach(_.fold(e => throw e, identity))
        }
        while (next < n && slots.containsKey(next)) {
          slots.remove(next).foreach(sink)
          next += 1
        }
      }
    } finally if (next < n && !fut.isCompleted) fut.cancel()
  }

  /** Stream `df`'s rows as newline-terminated JSON (the canonical
    * `toJSON` encoding) to `sink` in partition order, encoding ALL
    * partitions in ONE parallel Spark job — the text-mode twin of
    * [[arrowBatchesPipelined]]. The old path, `toJSON.toLocalIterator`,
    * runs one job per partition sequentially, serializing the JSON
    * encode onto one core at a time exactly like the pre-pump Arrow
    * path did. Chunks are ≤64k rows of UTF-8 lines, so driver buffering
    * stays bounded per out-of-order partition.
    */
  def jsonLinesPipelined(df: DataFrame)(sink: Array[Byte] => Unit): Unit = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val rdd = ds.toJSON.rdd.mapPartitions { it =>
      it.grouped(65536).map(
        _.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    pumpInOrder(ds.sparkSession, rdd)(sink)
  }

  /** Serialized IPC stream header (schema message) for `schema`. */
  def arrowStreamHeader(spark: SparkSession, schema: types.StructType): Array[Byte] = {
    val (tz, strict, large) = arrowConf(spark)
    val out = new java.io.ByteArrayOutputStream()
    new execution.arrow.ArrowBatchStreamWriter(schema, out, tz, strict, large)
    out.toByteArray // the writer serializes the schema in its constructor
  }

  /** Serialized IPC end-of-stream marker. */
  def arrowStreamFooter(spark: SparkSession, schema: types.StructType): Array[Byte] = {
    val (tz, strict, large) = arrowConf(spark)
    val out = new java.io.ByteArrayOutputStream()
    val w = new execution.arrow.ArrowBatchStreamWriter(schema, out, tz, strict, large)
    out.reset() // drop the header; keep only what end() appends
    w.end()
    out.toByteArray
  }

  /** Re-encode a complete Arrow IPC stream with zstd (level 1) BUFFER
    * compression (`codec = "zstd"`) or none (`"none"`). The result is
    * still a spec-valid, self-describing IPC stream — the codec is
    * recorded in each RecordBatch message, and any conforming reader
    * (pyarrow, Arrow Java with a codec factory) decompresses
    * transparently. Streams one batch at a time — peak memory is one
    * decompressed batch plus the output buffer, not 2× the stream.
    */
  def recompressIPC(ipc: Array[Byte], codec: String): Array[Byte] =
    recompressIPC(new java.io.ByteArrayInputStream(ipc), codec)

  /** Streaming overload: reads the IPC stream incrementally, so the
    * caller never needs the input flattened into one array.
    */
  def recompressIPC(ipc: java.io.InputStream, codec: String): Array[Byte] = {
    import org.apache.arrow.vector.ipc.{ArrowStreamReader, ArrowStreamWriter}
    import org.apache.arrow.compression.CommonsCompressionFactory
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val reader = new ArrowStreamReader(ipc, alloc, CommonsCompressionFactory.INSTANCE)
    try {
      val out = new java.io.ByteArrayOutputStream(1 << 20)
      val ch = java.nio.channels.Channels.newChannel(out)
      val root = reader.getVectorSchemaRoot
      val writer = codec match {
        case "zstd" => new ArrowStreamWriter(root, null, ch,
          org.apache.arrow.vector.ipc.message.IpcOption.DEFAULT,
          CommonsCompressionFactory.INSTANCE,
          org.apache.arrow.vector.compression.CompressionUtil.CodecType.ZSTD,
          java.util.Optional.of(Integer.valueOf(1)))
        // the commons factory refuses NO_COMPRESSION: plain writer
        case "none" => new ArrowStreamWriter(root, null, ch)
      }
      writer.start()
      while (reader.loadNextBatch()) writer.writeBatch()
      writer.end()
      out.toByteArray
    } finally { reader.close(); alloc.close() }
  }

  /** One encapsulated IPC message of a buffer: where it starts, its
    * full length (prefix, metadata and body) and its flatbuffer
    * `Message` header, null for the end-of-stream marker.
    */
  final case class IPCFrame(offset: Int, length: Int, message: org.apache.arrow.flatbuf.Message) {
    /** The RecordBatch header, when the frame is a record batch. */
    def batch: Option[org.apache.arrow.flatbuf.RecordBatch] =
      Option(message)
        .filter(_.headerType() == org.apache.arrow.flatbuf.MessageHeader.RecordBatch)
        .map(_.header(new org.apache.arrow.flatbuf.RecordBatch())
          .asInstanceOf[org.apache.arrow.flatbuf.RecordBatch])
  }

  /** The messages of `ipc[0, len)` in order, read off the IPC framing
    * alone — continuation marker, metadata length, flatbuffer
    * `Message`, body length — with the bodies never touched. The one
    * reader of the framing: splitting a stream, spotting compression
    * and the client's row counts all walk it.
    */
  def ipcFrames(ipc: Array[Byte], len: Int): Iterator[IPCFrame] = new Iterator[IPCFrame] {
    private val bb = java.nio.ByteBuffer.wrap(ipc, 0, len).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    private var pos = 0
    def hasNext: Boolean = pos < len
    def next(): IPCFrame = {
      val first = bb.getInt(pos)
      // 0xFFFFFFFF continuation marker, then the length (the pre-1.0
      // format starts with the bare length)
      val (metaLen, hdr) = if (first == -1) (bb.getInt(pos + 4), 8) else (first, 4)
      val msg =
        if (metaLen <= 0) null // end-of-stream marker
        else org.apache.arrow.flatbuf.Message.getRootAsMessage(
          java.nio.ByteBuffer.wrap(ipc, pos + hdr, metaLen).slice()
            .order(java.nio.ByteOrder.LITTLE_ENDIAN))
      val f = IPCFrame(pos, if (msg == null) hdr else hdr + metaLen + msg.bodyLength().toInt, msg)
      pos += f.length
      f
    }
  }

  /** Split a complete IPC stream into its encapsulated messages
    * (schema, record batches, end-of-stream marker), without decoding
    * bodies — each element is one wire frame for TcpGate's chunked
    * protocol.
    */
  def splitIPCMessages(ipc: Array[Byte]): Vector[Array[Byte]] =
    ipcFrames(ipc, ipc.length)
      .map(f => java.util.Arrays.copyOfRange(ipc, f.offset, f.offset + f.length)).toVector

  /** True iff any RecordBatch message before the end-of-stream marker
    * declares a body-compression codec in its flatbuffer metadata.
    */
  def ipcIsCompressed(ipc: Array[Byte]): Boolean =
    ipcFrames(ipc, ipc.length).takeWhile(_.message != null)
      .exists(_.batch.exists(_.compression() != null))

  /** Decode a complete Arrow IPC stream (header + batches + footer)
    * back into a local DataFrame — the client half of the gate's wire
    * format. Spark's own IPC reader does not decompress, so a stream
    * whose batches declare a compression codec is normalized
    * transparently first (`recompressIPC(ipc, "none")`) — without this
    * a gate consumer would work on an uncompressed reply and break on
    * a compressed one. Rows are copied out before the Arrow buffers
    * close. Bulk clients should prefer `GateClient.sqlArrowOpaque` and
    * decode only what they consume.
    */
  def fromArrowIPC(spark: SparkSession, ipc: Array[Byte]): DataFrame = {
    val plain = if (ipcIsCompressed(ipc)) recompressIPC(ipc, "none") else ipc
    val (iter, schema) = execution.arrow.ArrowConverters.fromIPCStream(plain)
    try {
      val rows = iter.map(_.copy()).toIndexedSeq
      classic.Dataset.ofRows(
        spark.asInstanceOf[classic.SparkSession],
        catalyst.plans.logical.LocalRelation(
          catalyst.types.DataTypeUtils.toAttributes(schema), rows))
    } finally iter.close()
  }
}
