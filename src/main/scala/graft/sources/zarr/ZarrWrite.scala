package graft.sources.zarr

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.{Partitioner, TaskContext}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{ArrayType, DataType}
import org.apache.spark.util.SerializableConfiguration

/** Distributed zarr v2 sink — the Spark-native analog of the reference's
  * `xds_to_zarr` (ref: daskms/experimental/zarr/__init__.py:269-364: one
  * zarr array per column, row as the first axis, region-aligned writes).
  *
  * Scale design:
  *  - ONE Spark task per row-chunk, writing that chunk's file for every
  *    column — the write parallelism IS the store's native chunk grid, and
  *    chunk files never pass through the driver
  *  - the only shuffle is the row-chunk alignment repartition (dask does the
  *    same rechunk before its region writes); keys are plain longs
  *  - task retries are idempotent: a chunk task overwrites exactly its own
  *    chunk files, nothing else
  *
  * Supported subset = what [[ZarrMeta]] reads back: numeric/bool scalars,
  * complex struct(re, im) → `<c16`, fixed-shape (nested) arrays of those;
  * C order, little-endian, zlib. Rows land in the store in the frame's
  * current order (make it deterministic upstream if ROWID stability
  * matters: a zarr read numbers rows in store order).
  */
object ZarrWrite {

  /** @param rowChunk  rows per zarr chunk = rows per write task. Size it so
    *                   chunkRows × rowWidth × 8 B fits comfortably in task
    *                   memory (the default is ~0.5 MB per scalar column).
    * @param overwrite  false (default) = fail if the target exists — the
    *                   reference's writer never deletes an existing store;
    *                   true = replace it.
    * @param assumeDeterministic true = skip persisting the input across the
    *                   count and write jobs. The write runs multiple jobs
    *                   over the frame; by default the RDD is persisted so a
    *                   nondeterministic upstream (post-shuffle order,
    *                   sample, AQE re-plan) cannot desync the row offsets —
    *                   at 100 TB that persist is a full extra
    *                   materialization, so callers whose input is a plain
    *                   deterministic scan can opt out and read the source
    *                   twice instead.
    */
  def write(df: DataFrame, path: String, rowChunk: Int = 65536,
            zlibLevel: Int = 1, overwrite: Boolean = false,
            assumeDeterministic: Boolean = false): Unit = {
    val spark = df.sparkSession
    val fields = df.schema.fields
    require(fields.nonEmpty, s"zarr write of $path: empty schema")
    val dtypes: Array[String] =
      fields.map(f => ZarrMeta.sparkToDtype(elementTypeOf(f.dataType)))

    // The frame is evaluated by three jobs (dims inference, per-partition
    // counts, the chunk write). Persist the RDD across them: a
    // nondeterministic upstream (post-shuffle order, sample, AQE re-plan)
    // re-evaluated per job could otherwise disagree with the offsets
    // computed in the count pass → silent row misplacement. Persist also
    // makes the write a single read of the input at scale (opt out via
    // assumeDeterministic when the input is a plain scan).
    val rdd = df.rdd
    if (!assumeDeterministic)
      rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
      // trailing dims of array columns, frozen from the first row (validated
      // against every row during serialization)
      lazy val headRow = rdd.take(1).headOption
      val dims: Array[Seq[Long]] = fields.zipWithIndex.map { case (f, i) =>
        f.dataType match {
          case _: ArrayType =>
            val r = headRow.getOrElse(throw new IllegalArgumentException(
              s"zarr write of $path: cannot infer dims of array column " +
                s"'${f.name}' from an empty frame"))
            dimsOf(f.dataType, r.get(i), f.name)
          case _ => Nil
        }
      }

      // one pass to count rows per partition → global row offsets (collect
      // returns results in partition order)
      val partCounts =
        rdd.mapPartitions(it => Iterator.single(it.size.toLong),
          preservesPartitioning = true).collect()
      val offsets = partCounts.scanLeft(0L)(_ + _)
      val rows = offsets.last
      val chunkRows = math.min(rowChunk.toLong, math.max(rows, 1L)).toInt
      val numChunks = ((rows + chunkRows - 1) / chunkRows).toInt

      val metas: Array[ZarrArrayMeta] = fields.indices.toArray.map { i =>
        ZarrArrayMeta(fields(i).name, rows +: dims(i),
          chunkRows +: dims(i).map(_.toInt), dtypes(i),
          if (zlibLevel > 0) Some("zlib") else None, fillValue = 0d,
          objectCodec = dtypes(i) == "|O")
      }
      metas.foreach { m =>
        require(!m.objectCodec || m.shape.length == 1,
          s"zarr write: string column '${m.name}' must be scalar (1-d)")
        // zarr's 2 GiB chunk limit, checked in Long arithmetic (the
        // reference validates the same before writing; objects use its
        // 32 B/entry estimate)
        val bytes =
          if (m.objectCodec) m.rowChunk.toLong * 32L
          else ZarrMeta.chunkByteSize(m)
        require(bytes < (1L << 31),
          s"zarr write: chunk of column '${m.name}' would be $bytes B — " +
            s"over zarr's 2 GiB chunk limit; use a smaller rowChunk")
      }

      // driver writes the group + array metadata (tiny JSON sidecars)
      val conf = spark.sessionState.newHadoopConf()
      val root = new Path(path)
      val fs = root.getFileSystem(conf)
      if (fs.exists(root)) {
        require(overwrite, s"zarr write: $path already exists " +
          "(pass overwrite=true to replace it)")
        fs.delete(root, true)
      }
      fs.mkdirs(root)
      val zgroupJson = """{"zarr_format": 2}"""
      val consolidated = new StringBuilder
      consolidated ++= """{"zarr_consolidated_format": 1, "metadata": {"""
      consolidated ++= s"""".zgroup": $zgroupJson"""
      val sidecars = scala.collection.mutable.ArrayBuffer.empty[(Path, String)]
      metas.foreach { m =>
        val dir = new Path(root, m.name)
        fs.mkdirs(dir)
        val za = zarrayJson(m, zlibLevel)
        val dimNames = ("row" +: m.shape.drop(1).indices.map(d => s"${m.name}_d$d"))
          .map(n => s""""$n"""").mkString("[", ", ", "]")
        val zattrs = s"""{"_ARRAY_DIMENSIONS": $dimNames}"""
        sidecars += ((new Path(dir, ".zarray"), za))
        sidecars += ((new Path(dir, ".zattrs"), zattrs))
        consolidated ++= s""", "${m.name}/.zarray": $za"""
        consolidated ++= s""", "${m.name}/.zattrs": $zattrs"""
      }
      consolidated ++= "}}"
      // EVERY metadata sidecar — per-array .zarray/.zattrs, the
      // consolidated .zmetadata, and .zgroup — commits AFTER the chunk
      // job (the TokenBin/WebDataset commit-marker discipline): zarr's
      // missing-chunk-is-fill-value contract means a crashed chunk job
      // under already-present metadata would read back SILENTLY as
      // fill values. Deferring the metadata makes a torn store
      // UNOPENABLE — and .zgroup, the key every open/sniff path needs,
      // goes LAST within the commit itself, so even a driver crash
      // MID-COMMIT (some .zarray written, others not) leaves a store
      // the format sniff refuses rather than one that opens with
      // silently missing columns. External unconsolidated zarr-python
      // stores (which always carry their metadata) keep reading as-is.
      // Re-running the write with overwrite=true is the recovery,
      // exactly as for the binary sinks. (Reference writes .zmetadata
      // at consolidate time, also last:
      // daskms/experimental/zarr/__init__.py:355-360.)
      def commitMetadata(): Unit = {
        sidecars.foreach { case (p, text) => writeText(fs, p, text) }
        writeText(fs, new Path(root, ".zmetadata"), consolidated.toString)
        writeText(fs, new Path(root, ".zgroup"), zgroupJson)
      }
      if (numChunks == 0) {
        commitMetadata()
        return
      }

      // chunk-aligned write: key rows by global index, route each to its
      // chunk's task, write one file per (chunk, column)
      val serConf = new SerializableConfiguration(conf)
      val keyed = rdd.mapPartitionsWithIndex { case (pid, it) =>
        var idx = offsets(pid)
        it.map { row => val k = idx; idx += 1; (k, row) }
      }
      val byChunk = keyed.repartitionAndSortWithinPartitions(new Partitioner {
        override def numPartitions: Int = numChunks
        override def getPartition(key: Any): Int =
          (key.asInstanceOf[Long] / chunkRows).toInt
      })
      val nCols = fields.length
      byChunk.foreachPartition { it: Iterator[(Long, Row)] =>
        if (it.hasNext) {
          val chunkIdx = TaskContext.getPartitionId()
          // full-size chunk buffers (zarr v2 edge chunks are padded);
          // object (string) columns accumulate into a padded item array
          val bufs: Array[ByteBuffer] = metas.map { m =>
            if (m.objectCodec) null
            else ByteBuffer.allocate(ZarrMeta.chunkByteSize(m).toInt)
              .order(ByteOrder.LITTLE_ENDIAN)
          }
          val strs: Array[Array[String]] = metas.map { m =>
            if (m.objectCodec) Array.fill[String](chunkRows)("") else null
          }
          var nLocal = 0
          it.foreach { case (_, row) =>
            var c = 0
            while (c < nCols) {
              if (metas(c).objectCodec) {
                val v = row.get(c)
                if (v == null) throw new IllegalArgumentException(
                  s"zarr write: null value in column '${fields(c).name}' (no null support)")
                strs(c)(nLocal) = v.asInstanceOf[String]
              } else {
                putValue(metas(c).dtype, dims(c), bufs(c), row.get(c), fields(c).name)
              }
              c += 1
            }
            nLocal += 1
          }
          val cfs = new Path(path).getFileSystem(serConf.value)
          var c = 0
          while (c < nCols) {
            val raw =
              if (metas(c).objectCodec) encodeJsonChunk(strs(c))
              else bufs(c).array()
            val bytes = if (zlibLevel > 0) deflate(raw, zlibLevel) else raw
            val p = new Path(new Path(path, metas(c).name),
              metas(c).chunkFile(chunkIdx))
            val out = cfs.create(p, true)
            try out.write(bytes) finally out.close()
            c += 1
          }
        }
      }
      // the commit step (see above): only a store whose every chunk
      // task completed carries any metadata at all
      commitMetadata()
    } finally if (!assumeDeterministic) rdd.unpersist(blocking = false)
  }

  // ------------------------------------------------------------------ plumbing

  private def elementTypeOf(t: DataType): DataType = t match {
    case ArrayType(et, _) => elementTypeOf(et)
    case other => other
  }

  private def dimsOf(t: DataType, v: Any, colName: String): Seq[Long] = t match {
    case ArrayType(et, _) =>
      val s = Option(v).map(_.asInstanceOf[scala.collection.Seq[Any]])
        .getOrElse(throw new IllegalArgumentException(
          s"zarr write: null array in column '$colName'"))
      require(s.nonEmpty, s"zarr write: empty array in column '$colName' " +
        "(fixed nonzero trailing dims required)")
      s.length.toLong +: dimsOf(et, s.head, colName)
    case _ => Nil
  }

  /** Serialize one cell (scalar or fixed-shape nested array) in C order. */
  private def putValue(dtype: String, ds: Seq[Long], b: ByteBuffer, v: Any,
                       colName: String): Unit = {
    if (v == null) throw new IllegalArgumentException(
      s"zarr write: null value in column '$colName' (no null support)")
    ds match {
      case Nil => putElem(dtype, b, v)
      case d +: rest =>
        val s = v.asInstanceOf[scala.collection.Seq[Any]]
        require(s.length == d, s"zarr write: ragged array in column " +
          s"'$colName' (${s.length} elements, expected $d — fixed shape required)")
        s.foreach(e => putValue(dtype, rest, b, e, colName))
    }
  }

  private def putElem(dtype: String, b: ByteBuffer, v: Any): Unit = dtype match {
    case "<i8" => b.putLong(v.asInstanceOf[Long])
    case "<i4" => b.putInt(v.asInstanceOf[Int])
    case "<i2" => b.putShort(v.asInstanceOf[Short])
    case "|i1" => b.put(v.asInstanceOf[Byte])
    case "<f8" => b.putDouble(v.asInstanceOf[Double])
    case "<f4" => b.putFloat(v.asInstanceOf[Float])
    case "|b1" => b.put(if (v.asInstanceOf[Boolean]) 1.toByte else 0.toByte)
    case "<c16" =>
      val r = v.asInstanceOf[Row]
      b.putDouble(r.getDouble(0)); b.putDouble(r.getDouble(1))
  }

  private def zarrayJson(m: ZarrArrayMeta, zlibLevel: Int): String = {
    val comp =
      if (zlibLevel > 0) s"""{"id": "zlib", "level": $zlibLevel}""" else "null"
    val (fill, filters) =
      if (m.objectCodec) ("null", """[{"id": "json2", "encoding": "utf-8"}]""")
      else ("0", "null")
    s"""{
       |  "zarr_format": 2,
       |  "shape": ${m.shape.mkString("[", ", ", "]")},
       |  "chunks": ${m.chunks.mkString("[", ", ", "]")},
       |  "dtype": "${m.dtype}",
       |  "compressor": $comp,
       |  "fill_value": $fill,
       |  "filters": $filters,
       |  "order": "C"
       |}""".stripMargin
  }

  /** numcodecs json2 chunk: `[items..., "|O", [n]]`, UTF-8. */
  private def encodeJsonChunk(items: Array[String]): Array[Byte] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val list = new java.util.ArrayList[Any](items.length + 2)
    items.foreach(list.add)
    list.add("|O")
    val shape = new java.util.ArrayList[Any](1)
    shape.add(items.length)
    list.add(shape)
    mapper.writeValueAsBytes(list)
  }

  private def writeText(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def deflate(bytes: Array[Byte], level: Int): Array[Byte] = {
    val d = new java.util.zip.Deflater(level)
    d.setInput(bytes); d.finish()
    val out = new java.io.ByteArrayOutputStream(bytes.length / 4 + 64)
    val buf = new Array[Byte](65536)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }
}
