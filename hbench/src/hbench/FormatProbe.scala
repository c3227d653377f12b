package hbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.types.StructType

import graft.format.{Consistency, KeyBloom, KeyOffsetIndex, RecordCodec, SegmentReader, SegmentWriter}

/** Format-layer throughput on a fixed sample of a workload's own rows:
  * codec encode/decode, segment write/read, bytes per stored row, and
  * bloom / key-offset probes on the sidecars the segment writer builds
  * (the key is the sample's first column). Each figure is the median of
  * [[FormatProbe.Passes]] passes. */
object FormatProbe {
  val Passes = 5

  def run(schema: StructType, rows: Seq[Row], dir: Path, t: Spans): Map[String, Double] = {
    val conv = CatalystTypeConverters.createToCatalystConverter(schema)
    val internal = rows.map(r => conv(r).asInstanceOf[InternalRow].copy()).toArray
    val n = internal.length
    def perS(count: Double, body: => Unit): Double =
      Stats.median((1 to Passes).map { _ =>
        val t0 = System.nanoTime(); body; count / ((System.nanoTime() - t0) / 1e9)
      })

    val enc = new RecordCodec.Encoder(schema)
    val encodeRate = t.op("format", "format.encode", "aux") {
      perS(n, internal.foreach(enc.encode))
    }
    val payloads = internal.map(enc.encodeToArray)
    val dec = RecordCodec.Decoder.full(schema)
    val decodeRate = t.op("format", "format.decode", "aux") {
      perS(n, payloads.foreach(dec.decode))
    }

    Files.createDirectories(dir)
    val seg = dir.resolve("sample.seg")
    var segBytes = 0L
    val writeRate = t.op("format", "format.segment_write", "aux") {
      Stats.median((1 to Passes).map { _ =>
        Files.list(dir).forEach(p => Files.delete(p))
        val t0 = System.nanoTime()
        val w = new SegmentWriter(seg, schema, Consistency.Relaxed, keyOrdinal = Some(0))
        internal.foreach(r => w.append(r))
        segBytes = w.close().bytes
        segBytes / 1e6 / ((System.nanoTime() - t0) / 1e9)
      })
    }
    val readRate = t.op("format", "format.segment_read", "aux") {
      Stats.median((1 to Passes).map { _ =>
        val t0 = System.nanoTime()
        val r = new SegmentReader(seg)
        try while (r.advance()) dec.decode(r.buffer, r.payloadOffset, r.payloadLength)
        finally r.close()
        segBytes / 1e6 / ((System.nanoTime() - t0) / 1e9)
      })
    }

    // probe keys: every sample key plus as many absent ones
    val keyType = schema.head.dataType
    val present = internal.map(_.get(0, keyType))
    val bloom = KeyBloom.readFrom(seg.resolveSibling("sample.seg.bloom")).get
    val koff = KeyOffsetIndex.readFrom(
      seg.resolveSibling(KeyOffsetIndex.sidecarName("sample.seg"))).get
    val absent = present.map {
      case l: Long => (l + Long.MaxValue / 2): Any
      case other => other
    }
    val probes = present ++ absent
    val bloomNs = t.op("format", "format.bloom_probe", "aux") {
      1e9 / perS(probes.length, probes.foreach(bloom.mightContain))
    }
    val koffNs = t.op("format", "format.koff_lookup", "aux") {
      1e9 / perS(probes.length, probes.foreach(koff.lookup))
    }
    Files.list(dir).forEach(p => Files.delete(p))
    Map("format.encode_rows_per_s" -> encodeRate,
      "format.decode_rows_per_s" -> decodeRate,
      "format.segment_write_mb_per_s" -> writeRate,
      "format.segment_read_mb_per_s" -> readRate,
      "format.bytes_per_row" -> segBytes.toDouble / n,
      "format.bloom_probe_ns" -> bloomNs,
      "format.koff_lookup_ns" -> koffNs)
  }
}
