package graft.ext

import graft.SparkFunSuite

/** Cross-cutting totality fuzz: EVERY byte-level parser entry must be
  * total under arbitrary input — a typed Left or a valid parse, never
  * a throw. Random blobs, magic-prefixed random tails (reaches past
  * the magic checks), and truncated/bit-flipped valid fixtures. This
  * is the structural guarantee behind the "one poison blob never
  * kills a 1000-executor ingest" contract, now enforced at the entry
  * of every walk (round-13 hardening sweep).
  */
class ParserTotalitySpec extends SparkFunSuite {

  private val parsers: Seq[(String, Array[Byte] => Any)] = Seq(
    "avi" -> (b => Avi.aviTable(b)),
    "bzip2" -> (b => Bzip2.bzip2Table(b)),
    "exif" -> (b => Exif.exifMeta(b)),
    "flac" -> (b => Flac.flacFrameTable(b)),
    "flv" -> (b => Flv.flvTagTable(b)),
    "mp3" -> (b => Mp3.mp3FrameTable(b)),
    "id3" -> (b => Mp3.id3FrameTable(b)),
    "ogg-packets" -> (b => Ogg.oggPacketTable(b)),
    "ogg-codecs" -> (b => Ogg.oggStreamCodecs(b)),
    "parquet" -> (b => ParquetMeta.parquetFooterTable(b)),
    "png" -> (b => PngChunks.pngMeta(b)),
    "proto" -> (b => ProtoWire.protoFieldTable(b)),
    "tar" -> (b => TarShard.tarMemberTable(b)),
    "tfrecord" -> (b => TfRecord.tfRecordTable(b)),
    "warc" -> (b => WebArchive.warcRecordTable(b)),
    "webp" -> (b => WebP.webpMeta(b)),
    "zip" -> (b => ZipArchive.zipEntryTable(b)),
    "7z" -> (b => SevenZip.sevenZipTable(b)),
    "xz" -> (b => Xz.xzTable(b)),
    "bson" -> (b => Bson.bsonTable(b)),
    "msgpack" -> (b => MsgPack.msgPackTable(b)),
    "cbor" -> (b => Cbor.cborTable(b)),
    "pdf" -> (b => Pdf.parsePdf(b)),
    "docx" -> (b => Docx.parseDocx(b)),
    "xlsx" -> (b => Xlsx.parseXlsx(b)),
    "pptx" -> (b => Pptx.parsePptx(b)),
    "charset" -> (b => Charset.decodeToUtf8(b)),
    "arrow" -> (b => ArrowIpc.parseArrow(b)),
    "sniff" -> (b => FormatSniffer.sniff(b)),
    "gzip" -> (b => Gzip.gzipMemberTable(b)),
    "lz4" -> (b => Lz4.lz4FrameTable(b)),
    "zstd" -> (b => Zstd.zstdFrameTable(b)),
    "webm" -> (b => Matroska.webmSampleTable(b)),
    "avro" -> (b => AvroOcf.avroBlockTable(b)),
    "orc" -> (b => Orc.orcFooterTable(b)),
    "npy" -> (b => Npy.npyTable(b)),
    "safetensors" -> (b => SafeTensors.parse(b, 16L << 20)))

  private val magics: Seq[Array[Byte]] = Seq(
    "RIFF". getBytes, "OggS".getBytes, "fLaC".getBytes, "PAR1".getBytes,
    "ARROW1\u0000\u0000".getBytes("ISO-8859-1"), "%PDF-1.4\n".getBytes,
    Array[Byte]('P', 'K', 3, 4), Array[Byte]('P', 'K', 5, 6),
    Array[Byte](0x1F, 0x8B.toByte), "ID3".getBytes,
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10),
    Array[Byte]('B', 'Z', 'h', '9'),
    Array[Byte](0xFD.toByte, '7', 'z', 'X', 'Z', 0),
    Array[Byte]('7', 'z', 0xBC.toByte, 0xAF.toByte, 0x27, 0x1C),
    "WARC/1.0\r\n".getBytes,
    Array[Byte](0x04, 0x22, 0x4D, 0x18), // lz4 frame
    Array[Byte](0x28, 0xB5.toByte, 0x2F, 0xFD.toByte), // zstd frame
    Array[Byte](0x1A, 0x45, 0xDF.toByte, 0xA3.toByte), // EBML (webm)
    Array[Byte]('O', 'b', 'j', 1), "ORC".getBytes,
    Array[Byte](0x93.toByte, 'N', 'U', 'M', 'P', 'Y', 1, 0))

  test("random and magic-prefixed blobs: every parser terminates " +
    "with a typed result") {
    val rnd = new scala.util.Random(1234)
    val blobs = Seq.tabulate(60) { i =>
      val body = new Array[Byte](rnd.nextInt(400))
      rnd.nextBytes(body)
      if (i % 3 == 0) body
      else magics(rnd.nextInt(magics.length)) ++ body
    } ++ Seq(Array.emptyByteArray, new Array[Byte](1), new Array[Byte](64))
    parsers.foreach { case (name, p) =>
      blobs.foreach { b =>
        try p(b)
        catch {
          case e: Throwable =>
            fail(s"$name threw ${e.getClass.getSimpleName} on a " +
              s"${b.length}-byte blob: ${e.getMessage}")
        }
      }
    }
  }

  test("adversarial length fields: crafted 32/64-bit lengths near " +
    "overflow boundaries never crash") {
    // a frame of plausible structure bytes with planted extreme
    // little- and big-endian lengths at every offset
    val evil = new Array[Byte](96)
    val patterns = Seq(0x7FFFFFFFL, 0x80000000L, 0xFFFFFFFFL,
      Long.MaxValue, Long.MinValue, 1L << 62)
    val rnd = new scala.util.Random(77)
    (0 until 200).foreach { _ =>
      rnd.nextBytes(evil)
      val v = patterns(rnd.nextInt(patterns.length))
      val off = rnd.nextInt(evil.length - 8)
      (0 until 8).foreach(i => evil(off + i) = ((v >> (8 * i)) & 0xFF).toByte)
      val withMagic = magics(rnd.nextInt(magics.length)) ++ evil
      parsers.foreach { case (name, p) =>
        try { p(evil); p(withMagic) }
        catch {
          case e: Throwable =>
            fail(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    }
  }
}
