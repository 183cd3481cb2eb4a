package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.codecs._
import graft.core.{BlockReader, BlockWriter, PrefixVarInt}
import graft.engine.{ContainerIO, Manifests}

/** Per-layer metrics of the traced run: Spark plan and sources figures
  * from the traced operations, and replays of the workload's own values
  * through the codecs, the varint core and the engine's metadata paths.
  */
object Layers {
  type Metrics = Seq[(String, (Double, String))]

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The neardup operators, reported as `ops.<name>_ms` / `_pairs`. */
  val opShapes = Seq("minhash_lsh", "ngram_jaccard", "brute_topk", "ivf_topk", "embedding_neardup")

  def fromTraces(t: Seq[OpTrace]): Metrics = {
    val reads = t.filter(_.kind == "read")
    val writes = t.filter(x => x.kind == "write" || x.kind == "mutate")
    val mutates = t.filter(_.kind == "mutate")
    def m(f: OpTrace => Double) = mean(t.map(f))
    val scanned = reads.map(_.scanRows).sum
    Seq(
      "plan.jobs" -> (m(_.jobs), "count"),
      "plan.stages" -> (m(_.stages), "count"),
      "plan.tasks" -> (m(_.tasks), "count"),
      "plan.exchanges" -> (m(_.exchanges), "count"),
      "plan.shuffle_bytes" -> (m(_.shuffleBytes.toDouble), "bytes"),
      "plan.task_busy_ms" -> (m(_.busyMs), "ms"),
      "plan.task_cpu_ms" -> (m(_.cpuMs), "ms"),
      "plan.task_wait_ms" -> (m(_.waitMs), "ms"),
      "plan.gc_ms" -> (m(_.gcMs), "ms"),
      "plan.driver_ms" -> (m(_.driverMs), "ms"),
      "sources.plan_ms" -> (mean(reads.map(_.planMs)), "ms"),
      "sources.input_partitions" -> (mean(reads.map(_.inputPartitions.toDouble)), "count"),
      "sources.prune_ratio" -> (mean(reads.filter(_.liveContainers > 0).map(r =>
        r.plannedContainers.toDouble / r.liveContainers)), "ratio"),
      "sources.scan_rows" -> (mean(reads.map(_.scanRows.toDouble)), "count"),
      "sources.row_yield" -> (if (scanned == 0) 0.0 else reads.map(_.rowsOut).sum.toDouble / scanned, "ratio"),
      "sources.exec_ms" -> (mean(reads.map(r => r.wallMs - r.planMs)), "ms"),
      "sources.commit_ms" -> (mean(writes.map(_.commitMs)), "ms"),
      "sources.containers_rewritten" -> (mean(mutates.map(_.rewritten.toDouble)), "count")) ++
      opShapes.flatMap { s =>
        val o = t.filter(_.shape == s)
        Seq(s"ops.${s}_ms" -> (mean(o.map(_.wallMs)), "ms"),
          s"ops.${s}_pairs" -> (mean(o.map(_.pairsOut.toDouble)), "count"))
      }
  }

  /** Share of traced reads that planned fewer containers than the table
    * holds (pruned) and share that planned all of them (full decode).
    */
  def pruneDecodeShares(t: Seq[OpTrace]): Seq[(String, Double)] = {
    val r = t.filter(x => x.kind == "read" && x.liveContainers > 0)
    val n = math.max(r.size, 1).toDouble
    Seq("read_ops_pruning_share" -> r.count(x => x.plannedContainers < x.liveContainers) / n,
      "read_ops_full_decode_share" -> r.count(x => x.plannedContainers >= x.liveContainers) / n)
  }

  /** Geometric mean over shapes of (traced median / untraced median). */
  def overhead(traced: Seq[(String, Double)], plain: Seq[(String, Double)]): Double = {
    val tm = traced.groupBy(_._1).map { case (k, v) => k -> Stats.median(v.map(_._2)) }
    val pm = plain.groupBy(_._1).map { case (k, v) => k -> Stats.median(v.map(_._2)) }
    val ratios = tm.keySet.intersect(pm.keySet).toSeq.map(k => math.log(tm(k) / pm(k)))
    if (ratios.isEmpty) 1.0 else math.exp(ratios.sum / ratios.size)
  }

  /** Wall ms of one call of `f`: the median of three batches, each
    * repeating `f` until it has run for at least 20 ms.
    */
  private def timeMs(f: => Unit): Double = {
    f
    Stats.median((0 until 3).map { _ =>
      var n = 0
      val s = System.nanoTime()
      var el = 0L
      while (el < 20000000L) { f; n += 1; el = System.nanoTime() - s }
      el / 1e6 / n
    })
  }

  final val ChunkRows = 65536
  final val StringChunkBytes = 4L << 20

  /** Integer-coded and string columns of up to one chunk of each sample;
    * string chunks stop at 4 MiB so the replay stays short on the code
    * table's content column.
    */
  private def chunks(samples: Seq[DataFrame]): (Seq[Array[Long]], Seq[Array[String]]) = {
    val longs = Seq.newBuilder[Array[Long]]
    val strs = Seq.newBuilder[Array[String]]
    samples.foreach { df =>
      val rows: Array[Row] = df.limit(ChunkRows).collect()
      df.schema.fields.zipWithIndex.foreach { case (f, i) =>
        f.dataType match {
          case LongType => longs += rows.map(_.getLong(i))
          case IntegerType => longs += rows.map(_.getInt(i).toLong)
          case DoubleType => longs += rows.map(r => DoubleBits.toSortableLong(r.getDouble(i)))
          case TimestampNTZType => longs += rows.map(r =>
            org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(
              r.getAs[java.time.LocalDateTime](i)))
          case StringType =>
            var bytes = 0L
            strs += rows.iterator.map(_.getString(i)).takeWhile { v =>
              bytes += StringCodecs.utf8Length(v); bytes <= StringChunkBytes
            }.toArray
          case _ => ()
        }
      }
    }
    (longs.result().filter(_.nonEmpty), strs.result().filter(_.nonEmpty))
  }

  private def utf8Bytes(v: Array[String]): Long = v.map(StringCodecs.utf8Length).sum

  def replay(spark: SparkSession, samples: Seq[DataFrame], tables: Seq[String],
             spans: Spans): Metrics = {
    val (longs, strs) = chunks(samples)

    val c0 = Clock.ms()
    var longSelUs, longEncMs, longDecMs, strSelUs, strEncMs, strDecMs, trainMs = 0.0
    var chosenBytes, bestBytes = 0L
    val blocks = scala.collection.mutable.LinkedHashMap[String, Double](
      (LongCodecs.all.map("long_" + _.name) ++
        Seq(RawStringCodec, DictStringCodec, RleStringCodec, FsstStringCodec).map("string_" + _.name))
        .map(_ -> 0.0): _*)
    longs.foreach { v =>
      val n = v.length
      var codec: LongCodec = null
      longSelUs += timeMs { codec = LongCodecs.select(LongCodecs.stats(v, n)) } * 1e3
      var block: Array[Byte] = null
      longEncMs += timeMs { block = codec.encode(v, n) }
      longDecMs += timeMs { LongCodecs.decodeSlice(block, 0, block.length) }
      chosenBytes += block.length
      bestBytes += LongCodecs.all.map(c => c.encode(v, n).length).min
      blocks("long_" + codec.name) += 1
    }
    strs.foreach { v =>
      val n = v.length
      var chosen: (StringCodec, Array[Byte]) = null
      strSelUs += timeMs { chosen = StringCodecs.encodeBest(v, n, StringCodecs.stats(v, n)) } * 1e3
      trainMs += timeMs { Fsst.train(v, n) }
      strEncMs += timeMs { chosen._1.encode(v, n) }
      val block = chosen._2
      strDecMs += timeMs { StringCodecs.decodeSliceUtf8(block, 0, block.length) }
      chosenBytes += block.length
      bestBytes += Seq(RawStringCodec, DictStringCodec, RleStringCodec, FsstStringCodec)
        .map(c => c.encode(v, n).length).min
      blocks("string_" + chosen._1.name) += 1
    }
    val longRaw = longs.map(_.length * 8L).sum
    val strRaw = strs.map(utf8Bytes).sum
    def mbs(bytes: Long, ms: Double) = if (ms <= 0) 0.0 else bytes / 1e6 / (ms / 1e3)
    val c1 = Clock.ms()
    spans.add(-1, 0, "codecs.replay", c0, c1)

    // core: the batch varint kernels over the same integer values, zigzagged
    val all = longs.flatMap(_.map(PrefixVarInt.zigzagEncode)).toArray
    var buf: Array[Byte] = null
    val putMs = timeMs {
      val w = new BlockWriter(all.length * 2 + 16)
      w.putVarints(all, 0, all.length)
      buf = w.result()
    }
    val dst = new Array[Long](all.length)
    val getMs = timeMs { new BlockReader(buf).readVarints(dst, 0, all.length) }
    require(java.util.Arrays.equals(dst, all), "varint replay round trip")
    val c2 = Clock.ms()
    spans.add(-2, 0, "core.replay", c1, c2)

    // engine: committed-manifest reads and CRC32C over the tables' blocks
    val conf = ContainerIO.confFrom(ContainerIO.confSnapshot(spark))
    val manifests = tables.map(t => Manifests.readCommitted(conf, t))
    val manifestMs = timeMs { tables.foreach(t => Manifests.readCommitted(conf, t)) }
    val blockFiles = tables.zip(manifests).flatMap { case (t, ms) =>
      ms.filter(m => m.rows > 0 && !m.schemaMarker).map(_.blockFile(t)) }
    val blockBytes = blockFiles.map(f => ContainerIO.readAll(conf, f))
    val crcMs = timeMs { blockBytes.foreach(b => Manifests.crc32c(b)) }
    val c3 = Clock.ms()
    spans.add(-3, 0, "engine.replay", c2, c3)

    Seq(
      "engine.manifest_read_ms" -> (manifestMs, "ms"),
      "engine.manifests" -> (manifests.map(_.count(m => m.rows > 0 && !m.schemaMarker)).sum.toDouble, "count"),
      "engine.chunks" -> (manifests.map(_.map(_.chunks.toLong).sum).sum.toDouble, "count"),
      "engine.crc32c_mb_s" -> (mbs(blockBytes.map(_.length.toLong).sum, crcMs), "MB/s"),
      "engine.table_bytes" -> (tables.map(Files.tableBytes).sum.toDouble, "bytes"),
      "codecs.long_select_us_per_chunk" -> (if (longs.isEmpty) 0.0 else longSelUs / longs.size, "us"),
      "codecs.string_select_us_per_chunk" -> (if (strs.isEmpty) 0.0 else strSelUs / strs.size, "us"),
      "codecs.fsst_train_ms" -> (if (strs.isEmpty) 0.0 else trainMs / strs.size, "ms"),
      "codecs.long_encode_mb_s" -> (mbs(longRaw, longEncMs), "MB/s"),
      "codecs.string_encode_mb_s" -> (mbs(strRaw, strEncMs), "MB/s"),
      "codecs.long_decode_mb_s" -> (mbs(longRaw, longDecMs), "MB/s"),
      "codecs.string_decode_mb_s" -> (mbs(strRaw, strDecMs), "MB/s"),
      "codecs.regret" -> (if (bestBytes == 0) 1.0 else chosenBytes.toDouble / bestBytes, "ratio"),
      "core.put_melem_s" -> (if (putMs <= 0) 0.0 else all.length / 1e6 / (putMs / 1e3), "Melem/s"),
      "core.get_melem_s" -> (if (getMs <= 0) 0.0 else all.length / 1e6 / (getMs / 1e3), "Melem/s"),
      "core.bytes_per_value" -> (if (all.isEmpty) 0.0 else buf.length.toDouble / all.length, "bytes")) ++
      blocks.toSeq.map { case (k, v) => s"codecs.blocks.$k" -> (v, "count") }
  }
}
