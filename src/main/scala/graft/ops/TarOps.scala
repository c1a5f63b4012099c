package graft.ops

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.types._

import graft.Pin

/** USTAR (POSIX.1-1988 tar) codec + WebDataset shard grouping — the
  * container format large-scale training pipelines actually shard
  * into: a WebDataset shard IS a tar archive whose member files group
  * into samples by basename (`0001.txt` + `0001.cls` = sample
  * `0001`), streamed sequentially at train time. m07 plans shard
  * manifests (byte-budget cuts); this operator BUILDS the shards as
  * real ustar bytes and reads them back sample-grouped — the missing
  * physical layer under the manifest.
  *
  * Header layout (public spec): 512-byte blocks; name[100],
  * mode/uid/gid octal, size[12] octal, mtime[12], chksum[8] (sum of
  * the header with the checksum field as spaces, stored octal),
  * typeflag, `ustar\0` magic; payload padded to 512; two zero blocks
  * terminate. The walk validates every checksum — a flipped header
  * byte is a named error, not a silent mis-slice.
  *
  * Scope (named rejections): regular files only (typeflag '0'/NUL),
  * no prefix-field long names, no GNU extensions.
  */
object TarOps {

  private val Block = 512

  private def octal(v: Long, width: Int): Array[Byte] = {
    val s = java.lang.Long.toOctalString(v)
    require(s.length <= width - 1, s"value $v overflows $width-byte octal field")
    (("0" * (width - 1 - s.length)) + s + "\u0000").getBytes(StandardCharsets.US_ASCII)
  }

  /** One ustar header block for a regular file. */
  private def header(name: String, size: Long): Array[Byte] = {
    val nameB = name.getBytes(StandardCharsets.UTF_8)
    require(nameB.length <= 100, s"name too long for ustar name field: $name")
    val h = new Array[Byte](Block)
    System.arraycopy(nameB, 0, h, 0, nameB.length)
    System.arraycopy(octal(420, 8), 0, h, 100, 8) // mode 0644
    System.arraycopy(octal(0, 8), 0, h, 108, 8) // uid
    System.arraycopy(octal(0, 8), 0, h, 116, 8) // gid
    System.arraycopy(octal(size, 12), 0, h, 124, 12)
    System.arraycopy(octal(0, 12), 0, h, 136, 12) // mtime (deterministic 0)
    java.util.Arrays.fill(h, 148, 156, ' '.toByte) // chksum as spaces first
    h(156) = '0' // regular file
    System.arraycopy("ustar\u000000".getBytes(StandardCharsets.US_ASCII),
      0, h, 257, 8) // magic + version
    var sum = 0L
    var i = 0
    while (i < Block) { sum += h(i) & 0xff; i += 1 }
    // chksum: 6 octal digits, NUL, space (the historic format)
    val cs = java.lang.Long.toOctalString(sum)
    val padded = ("0" * (6 - cs.length)) + cs
    System.arraycopy(padded.getBytes(StandardCharsets.US_ASCII), 0, h, 148, 6)
    h(154) = 0; h(155) = ' '.toByte
    h
  }

  /** Encode members into a ustar archive (payloads padded to 512,
    * two zero blocks at the end). Deterministic byte-for-byte.
    */
  def encodeTar(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    members.foreach { case (name, data) =>
      out.write(header(name, data.length.toLong))
      out.write(data)
      val pad = (Block - data.length % Block) % Block
      if (pad > 0) out.write(new Array[Byte](pad))
    }
    out.write(new Array[Byte](2 * Block))
    out.toByteArray
  }

  /** Parsed member: name + payload slice bounds (the walk never
    * copies payloads — WebDataset reads stream the slices they need).
    */
  final case class TarEntry(name: String, offset: Int, size: Int)

  /** Header walk with full checksum validation. Stops at the first
    * zero block; every truncation / bad field is a named error.
    */
  def tarEntries(tar: Array[Byte]): Seq[TarEntry] = {
    require(tar.length % Block == 0,
      s"tar length ${tar.length} is not a multiple of 512")
    val entries = Seq.newBuilder[TarEntry]
    var pos = 0
    var done = false
    while (!done) {
      require(pos + Block <= tar.length, s"truncated tar header at $pos")
      if ((0 until Block).forall(i => tar(pos + i) == 0)) done = true
      else {
        // checksum: header bytes with the chksum field as spaces
        var sum = 0L
        var i = 0
        while (i < Block) {
          sum += (if (i >= 148 && i < 156) ' '.toInt else tar(pos + i) & 0xff)
          i += 1
        }
        val stored = parseOctal(tar, pos + 148, 8, "chksum")
        require(stored == sum,
          s"tar header checksum mismatch at $pos (stored $stored, computed $sum)")
        val magic = new String(tar, pos + 257, 5, StandardCharsets.US_ASCII)
        require(magic == "ustar", s"not a ustar header at $pos (magic '$magic')")
        val tf = tar(pos + 156)
        require(tf == '0' || tf == 0,
          s"typeflag '${tf.toChar}' is outside the supported profile (regular files only)")
        var end = pos
        while (end < pos + 100 && tar(end) != 0) end += 1
        val name = new String(tar, pos, end - pos, StandardCharsets.UTF_8)
        require(name.nonEmpty, s"empty member name at $pos")
        val size = parseOctal(tar, pos + 124, 12, "size")
        require(size >= 0 && size <= Int.MaxValue, s"bad member size $size")
        val dataStart = pos + Block
        val padded = ((size + Block - 1) / Block * Block).toInt
        require(dataStart + padded <= tar.length,
          s"truncated tar payload for '$name' at $pos")
        entries += TarEntry(name, dataStart, size.toInt)
        pos = dataStart + padded
      }
    }
    entries.result()
  }

  private def parseOctal(b: Array[Byte], off: Int, len: Int,
                         field: String): Long = {
    var v = 0L
    var i = off
    val end = off + len
    // leading spaces allowed; digits; NUL/space terminates
    while (i < end && b(i) == ' ') i += 1
    require(i < end, s"empty octal field $field")
    var sawDigit = false
    while (i < end && b(i) != 0 && b(i) != ' ') {
      val c = b(i)
      require(c >= '0' && c <= '7', s"non-octal byte in tar field $field")
      v = v * 8 + (c - '0')
      sawDigit = true
      i += 1
    }
    require(sawDigit, s"empty octal field $field")
    v
  }

  /** WebDataset sample key: basename up to the FIRST dot (the wds
    * convention — `0001.seg.png` groups under `0001` with extension
    * `seg.png`).
    */
  private[graft] def sampleKey(name: String): (String, String) = {
    val slash = name.lastIndexOf('/')
    val base = name.substring(slash + 1)
    val dot = base.indexOf('.')
    if (dot < 0) (base, "") else (base.substring(0, dot), base.substring(dot + 1))
  }

  /** Deterministic shard fixture: per source, samples (doc_id order)
    * cut into shards by PRECEDING cumulative payload bytes over
    * `byteBudget` (m07's streaming-packing rule — a shard overflows by
    * at most one sample); each shard is a REAL ustar archive whose
    * members are `<doc_id>.txt` (UTF-8 text, NULL → empty) and
    * `<doc_id>.cls` (lang). Emits `(source, shard_id, tar)`.
    */
  def textToWdsShards(df: DataFrame, byteBudget: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val sized = df.select(col("source"), col("doc_id"), col("text"), col("lang"),
      (octet_length(coalesce(col("text"), lit(""))) +
        octet_length(col("lang"))).cast("long").as("sample_bytes"))
    // The packing cut is a PRECEDING cumulative byte sum per source —
    // NOT a `Window.partitionBy("source")` running sum, which would
    // serialize each source's entire byte stream through one task
    // (~5–20 sources in a real corpus ⇒ parallelism ≡ #sources at
    // 100 TB; round-16 verdict finding 1). PrefixSum's two-pass
    // decomposition keeps the heavy window keyed on (source, bucket)
    // while only a per-bucket SUBTOTAL table ever sees the per-source
    // window. Exclusive (preceding) sum = inclusive − current row.
    val cum = graft.ops.PrefixSum.groupedRunningSum(
      sized, group = Seq("source"), order = Seq(col("doc_id")),
      bucket = floor(col("doc_id") / lit(4096L)).cast("long"),
      value = col("sample_bytes"), out = "__cum")
    val sharded = cum.withColumn("shard_id",
      ((col("__cum") - col("sample_bytes")) / byteBudget).cast("long"))
      .drop("__cum")
    val schema = StructType(Seq(
      StructField("source", StringType), StructField("shard_id", LongType),
      StructField("tar", BinaryType)))
    implicit val enc: Encoder[Row] = Encoders.row(schema)
    import sharded.sparkSession.implicits._
    sharded.select("source", "shard_id", "doc_id", "text", "lang")
      .as[(String, Long, Long, Option[String], String)]
      .groupByKey(r => (r._1, r._2))
      .mapGroups((key: (String, Long),
                  rows: Iterator[(String, Long, Long, Option[String], String)]) => {
        val members = rows.toSeq.sortBy(_._3).flatMap {
          case (_, _, id, text, lang) => Seq(
            s"$id.txt" -> text.getOrElse("").getBytes(StandardCharsets.UTF_8),
            s"$id.cls" -> lang.getBytes(StandardCharsets.UTF_8))
        }
        Row(key._1, key._2, encodeTar(members))
      })
      .toDF("source", "shard_id", "tar")
  }

  /** BINARY-payload shard fixture — the actual WebDataset use (images/
    * audio in shards; the reference's bytes-valued topics,
    * faust/types/tuples.py:108-219): per source, samples (doc_id
    * order) cut into shards by PRECEDING cumulative payload bytes over
    * `byteBudget`, members named `<doc_id>.<ext>` with the payload
    * bytes VERBATIM. Input `(source, doc_id, payload)`; emits
    * `(source, shard_id, tar)`. The packing cut runs through
    * [[PrefixSum]] (same reasoning as [[textToWdsShards]]).
    */
  def binaryToWdsShards(df: DataFrame, ext: String,
                        byteBudget: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val sized = df.select(col("source"), col("doc_id"), col("payload"),
      octet_length(col("payload")).cast("long").as("sample_bytes"))
    val cum = graft.ops.PrefixSum.groupedRunningSum(
      sized, group = Seq("source"), order = Seq(col("doc_id")),
      bucket = floor(col("doc_id") / lit(4096L)).cast("long"),
      value = col("sample_bytes"), out = "__cum")
    val sharded = cum.withColumn("shard_id",
      ((col("__cum") - col("sample_bytes")) / byteBudget).cast("long"))
    val schema = StructType(Seq(
      StructField("source", StringType), StructField("shard_id", LongType),
      StructField("tar", BinaryType)))
    implicit val enc: Encoder[Row] = Encoders.row(schema)
    import sharded.sparkSession.implicits._
    sharded.select("source", "shard_id", "doc_id", "payload")
      .as[(String, Long, Long, Array[Byte])]
      .groupByKey(r => (r._1, r._2))
      .mapGroups((key: (String, Long),
                  rows: Iterator[(String, Long, Long, Array[Byte])]) => {
        val members = rows.toSeq.sortBy(_._3).map {
          case (_, _, id, payload) => s"$id.$ext" -> payload
        }
        Row(key._1, key._2, encodeTar(members))
      })
      .toDF("source", "shard_id", "tar")
  }

  /** Binary payload EXTRACTION — [[wdsExtractText]]'s bytes twin: copy
    * each sample's `.{ext}` member out of the archive verbatim, one
    * row per sample — `(source, sample_key, bytes)`. Feeding the
    * result to the repo's own decoders (JpegOps/WavOps) closes the
    * training-loader loop: one offset or padding byte wrong and the
    * decode (and its oracle hash) breaks.
    */
  def wdsExtractBytes(df: DataFrame, ext: String): DataFrame = {
    val srcIdx = df.schema.fieldIndex("source")
    val tarIdx = df.schema.fieldIndex("tar")
    val schema = StructType(Seq(
      StructField("source", StringType), StructField("sample_key", StringType),
      StructField("bytes", BinaryType)))
    implicit val enc: Encoder[Row] = Encoders.row(schema)
    df.mapPartitions { rows =>
      rows.flatMap { row =>
        val src = row.getString(srcIdx)
        val tar = row.getAs[Array[Byte]](tarIdx)
        tarEntries(tar).collect {
          case e if sampleKey(e.name)._2 == ext =>
            Row(src, sampleKey(e.name)._1,
              java.util.Arrays.copyOfRange(tar, e.offset, e.offset + e.size))
        }
      }
    }.toDF("source", "sample_key", "bytes")
  }

  /** The per-SAMPLE read path: walk each shard's headers and emit one
    * row per wds sample — `(source, shard_id, sample_key, n_files,
    * exts, sample_bytes)` with `exts` the sorted comma-joined member
    * extensions. This is the record grain a training loader consumes
    * (one sample = all same-key members of a shard); payloads stay
    * offset slices, never copied.
    */
  def wdsSamples(df: DataFrame): DataFrame = {
    val srcIdx = df.schema.fieldIndex("source")
    val shardIdx = df.schema.fieldIndex("shard_id")
    val tarIdx = df.schema.fieldIndex("tar")
    val schema = StructType(Seq(
      StructField("source", StringType), StructField("shard_id", LongType),
      StructField("sample_key", StringType), StructField("n_files", IntegerType),
      StructField("exts", StringType), StructField("sample_bytes", LongType)))
    implicit val enc: Encoder[Row] = Encoders.row(schema)
    df.mapPartitions { rows =>
      rows.flatMap { row =>
        val src = row.getString(srcIdx)
        val shard = row.getLong(shardIdx)
        val entries = tarEntries(row.getAs[Array[Byte]](tarIdx))
        entries.groupBy(e => sampleKey(e.name)._1).toSeq.map {
          case (key, members) =>
            Row(src, shard, key, members.size,
              members.map(e => sampleKey(e.name)._2).sorted.mkString(","),
              members.map(_.size.toLong).sum)
        }
      }
    }.toDF("source", "shard_id", "sample_key", "n_files", "exts",
      "sample_bytes")
  }

  /** Payload EXTRACTION — the loader's actual read: slice each
    * sample's `.{ext}` member out of the archive bytes and decode it
    * as UTF-8, one row per sample — `(source, sample_key, text)`.
    * Composed with a content hash this proves the whole write→walk→
    * slice path byte-losslessly (sizes alone can't).
    */
  def wdsExtractText(df: DataFrame, ext: String): DataFrame = {
    val srcIdx = df.schema.fieldIndex("source")
    val tarIdx = df.schema.fieldIndex("tar")
    val schema = StructType(Seq(
      StructField("source", StringType), StructField("sample_key", StringType),
      StructField("text", StringType)))
    implicit val enc: Encoder[Row] = Encoders.row(schema)
    df.mapPartitions { rows =>
      rows.flatMap { row =>
        val src = row.getString(srcIdx)
        val tar = row.getAs[Array[Byte]](tarIdx)
        tarEntries(tar).collect {
          case e if sampleKey(e.name)._2 == ext =>
            Row(src, sampleKey(e.name)._1,
              new String(tar, e.offset, e.size, StandardCharsets.UTF_8))
        }
      }
    }.toDF("source", "sample_key", "text")
  }

  /** THE shard census operator: walk each shard's headers (payloads
    * untouched), group members into samples by wds key, and emit one
    * row per shard — `(source, shard_id, n_samples, n_files,
    * payload_bytes, shard_bytes)`. A train-time reader validates its
    * shards with exactly this scan before streaming them.
    */
  def wdsShardCensus(df: DataFrame): DataFrame = {
    val srcIdx = df.schema.fieldIndex("source")
    val shardIdx = df.schema.fieldIndex("shard_id")
    val tarIdx = df.schema.fieldIndex("tar")
    val schema = StructType(Seq(
      StructField("source", StringType), StructField("shard_id", LongType),
      StructField("n_samples", IntegerType), StructField("n_files", IntegerType),
      StructField("payload_bytes", LongType), StructField("shard_bytes", LongType)))
    implicit val enc: Encoder[Row] = Encoders.row(schema)
    df.mapPartitions { rows =>
      rows.map { row =>
        val tar = row.getAs[Array[Byte]](tarIdx)
        val entries = tarEntries(tar)
        val samples = entries.map(e => sampleKey(e.name)._1).distinct
        Row(row.getString(srcIdx), row.getLong(shardIdx),
          samples.size, entries.size,
          entries.map(_.size.toLong).sum, tar.length.toLong)
      }
    }.toDF("source", "shard_id", "n_samples", "n_files",
      "payload_bytes", "shard_bytes")
  }

  /** The COMPOSED training-loader chain a pretraining pipeline ships
    * (p32): epoch-budget plan → materialized copies
    * ([[SampleOps.materializeEpochPlan]]) → deterministic portable
    * shuffle (rank of the 60-bit md5 hash of `doc:copy` via the
    * PrefixSum kernel — every stage group-parallel) → per-source WDS
    * packing of the SHUFFLED order into real ustar shards
    * ([[textToWdsShards]] with position as the member key and the
    * `doc:copy` provenance as the `.cls` member) → loader walk at
    * sample grain ([[wdsSamples]]) joined with the provenance
    * EXTRACTED back out of the physical tar bytes ([[wdsExtractText]]).
    *
    * `docs` needs `(source, doc_id, text)`. Output: one row per
    * packed sample — `(source, shard_id, pos, doc_id, copy_idx,
    * n_files, exts, sample_bytes)` — so a single compare checks epoch
    * coverage (each planned (doc, copy) exactly once), the cumulative
    * byte-budget cut, and physical member-byte round-trip at once.
    *
    * Scale shape: the epoch plan broadcasts (groups-many rows); the
    * copy explode is a narrow scan; shuffle ranks and the packing cut
    * both run on the two-pass PrefixSum kernel (bounded per-task
    * sorts at any group skew); the walk and extraction are
    * shard-local header scans; the provenance join is a sample-grain
    * hash join. No stage sorts more than ~bucketWidth rows per task.
    */
  def epochToWdsSamples(docs: DataFrame, weights: Seq[(String, Double)],
                        budget: Double, maxEpochs: Double,
                        byteBudget: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val withToks = docs.withColumn("__n_toks", TextOps.tokenCount(col("text")))
    val ep = SampleOps.materializeEpochPlan(withToks, "source", "doc_id",
      col("__n_toks"), weights, budget, maxEpochs)
    // pinned (lazy): the rank kernel reads this frame on both its
    // subtotal and probe sides — unpinned, the epoch join + per-row md5
    // prefix executes twice (same pattern as `shards` below)
    val keyed = Pin(ep
      .join(docs.select("doc_id", "text"), Seq("doc_id"))
      .withColumn("ck", concat(col("doc_id"), lit(":"), col("copy_idx")))
      // rank by the RAW 60-bit hash, not its double image: two hashes
      // that collide in double but differ as longs would let engines
      // order them differently through the tiebreaker
      .withColumn("uhl",
        graft.functions.PortableHash.mdHash60(concat(lit("#"), col("ck")))),
      eager = false)
    val positioned = PrefixSum.groupedRowNumber(keyed, Seq("source"),
      order = Seq(col("uhl"), col("doc_id"), col("copy_idx")),
      bucket = floor(col("uhl") / lit(1L << 48)).cast("long"),
      out = "pos")
    // pinned (lazy): the walk AND the provenance extraction both read
    // the shards — unpinned, the whole epoch→shuffle→pack prefix
    // (including the tar encode) would execute twice
    val shards = Pin(textToWdsShards(
      positioned.select(col("source"), col("pos").as("doc_id"),
        col("text"), col("ck").as("lang")),
      byteBudget), eager = false)
    val walked = wdsSamples(shards)
    val prov = wdsExtractText(shards, "cls")
      .select(col("source").as("__psrc"), col("sample_key").as("__pkey"),
        split(col("text"), ":").as("__parts"))
      .select(col("__psrc"), col("__pkey"),
        element_at(col("__parts"), 1).cast("long").as("doc_id"),
        element_at(col("__parts"), 2).cast("int").as("copy_idx"))
    walked.join(prov,
        col("source") === col("__psrc") &&
          col("sample_key") === col("__pkey"))
      .select(col("source"), col("shard_id"),
        col("sample_key").cast("long").as("pos"),
        col("doc_id"), col("copy_idx"),
        col("n_files"), col("exts"), col("sample_bytes"))
  }
}
