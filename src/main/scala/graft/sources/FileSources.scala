package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** File-format connectors beyond parquet — schema-enforced JSON-lines
  * and RFC 4180 CSV read paths, exercised as lossless round-trips.
  *
  * The WRITE side here is fixture machinery (the m13/m15 own-encoder
  * pattern: produce the byte stream ourselves so the read path is
  * oracle-checkable end-to-end); the READ side is the real connector a
  * pipeline would point at third-party drops:
  *
  *  - explicit schema (never inferSchema — a schema inference pass is
  *    a full extra scan at 100 TB and type-drifts between drops);
  *  - PERMISSIVE mode with a named corrupt-record column, so malformed
  *    lines become COUNTABLE rows instead of job failures (faust's
  *    on-decode-error contract, `faust/serializers/codecs.py:1-60`:
  *    bytes that don't parse surface as typed errors, not crashes);
  *  - JSON lines is the scale format: newline-framed records split by
  *    byte range, so a 100 TB drop fans out across executors with no
  *    coordination. CSV with embedded newlines needs `multiLine`,
  *    which parses each FILE serially — documented here as the
  *    non-splittable trade; keep multiline CSV drops in many files.
  */
object FileSources {

  /** Per-JVM staging root, deleted recursively on JVM exit — repeated
    * verify/bench runs must not leak corpus copies into the temp dir
    * (each round-trip query stages a full copy of its input).
    */
  private lazy val stagingRoot: Path = graft.Sessions.tempDir("graft-src-staging-")

  /** Per-format staging with TWO live generations: starting a new
    * round trip reclaims the generation BEFORE last, so a DataFrame
    * returned by the immediately-preceding call of the same format
    * stays materializable (lazy frames two-or-more round trips behind
    * are not supported — this is fixture machinery). Bounds peak temp
    * usage to two corpus copies per format instead of one per
    * invocation across bench iterations; the JVM-exit hook reclaims
    * whatever remains.
    */
  private val lastStage =
    new java.util.concurrent.ConcurrentHashMap[String, (Path, Path)]()

  private[sources] def stageDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(stagingRoot, prefix)
    val evicted = new java.util.concurrent.atomic.AtomicReference[Path]()
    lastStage.merge(prefix, (dir, null),
      (prev, _) => { evicted.set(prev._2); (dir, prev._1) })
    if (evicted.get != null) graft.Sessions.deleteTree(evicted.get)
    dir
  }

  /** Write `df` as JSON lines (multiple part files — proves the
    * multi-file read), optionally drop extra RAW lines alongside
    * (malformed-record injection), then read everything back with the
    * writer's schema plus a `_corrupt_record` column in PERMISSIVE
    * mode. Lossless for every JSON-representable value including
    * nulls, embedded newlines/quotes and non-ASCII.
    */
  def jsonRoundTrip(df: DataFrame, rawExtraLines: Seq[String] = Nil,
                    parts: Int = 4): DataFrame = {
    val dir = stageDir("graft-json-src-")
    df.repartition(parts).write.mode("overwrite").json(dir.toString)
    if (rawExtraLines.nonEmpty)
      Files.write(Paths.get(dir.toString, "part-injected.json"),
        (rawExtraLines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    val schema = StructType(df.schema.fields :+
      StructField("_corrupt_record", StringType, nullable = true))
    df.sparkSession.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir.toString)
  }

  /** Write `df` as RFC 4180 CSV (header, every field quoted, embedded
    * quotes doubled via `escape = "` — the interoperable dialect every
    * warehouse emits) and read it back with the writer's schema.
    * `multiLine` handles embedded newlines; see the scaladoc trade.
    */
  def csvRoundTrip(df: DataFrame, parts: Int = 4): DataFrame = {
    val dir = stageDir("graft-csv-src-")
    df.repartition(parts).write.mode("overwrite")
      .option("header", "true")
      .option("quoteAll", "true")
      .option("escape", "\"")
      // the writer TRIMS surrounding whitespace by default — disable
      // both sides so ' padded ' survives byte-for-byte
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(dir.toString)
    df.sparkSession.read
      .schema(df.schema)
      .option("header", "true")
      .option("escape", "\"")
      .option("multiLine", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(dir.toString)
  }

  /** Write `df` as ORC and read it back — the columnar interchange
    * format next to parquet: typed (no string re-parse, NULL vs ''
    * preserved exactly), splittable by stripe, and predicate/column
    * pushdown capable, so unlike q138/q139's text formats the census
    * scan reads only the columns it aggregates.
    */
  def orcRoundTrip(df: DataFrame, parts: Int = 4): DataFrame = {
    val dir = stageDir("graft-orc-src-")
    df.repartition(parts).write.mode("overwrite").orc(dir.toString)
    df.sparkSession.read.schema(df.schema).orc(dir.toString)
  }

  /** Write `df` as XML (one `<row>` element per record — Spark 4's
    * BUILT-IN XML source) and read it back with the writer's schema.
    * XML is the third-party-feed format (sitemaps, RSS/Atom, SOAP
    * exports): schema-enforced like the others, PERMISSIVE-decoded.
    * Character data preserves embedded newlines/quotes/commas and
    * non-ASCII via entity escaping; NULL vs '' is NOT portable
    * (absent element vs empty element both read back null with the
    * default readers) — census must be null-insensitive, like CSV.
    */
  def xmlRoundTrip(df: DataFrame, parts: Int = 4): DataFrame = {
    val dir = stageDir("graft-xml-src-")
    df.repartition(parts).write.mode("overwrite")
      .format("xml").option("rowTag", "row")
      .save(dir.toString)
    df.sparkSession.read
      .schema(df.schema)
      .format("xml").option("rowTag", "row")
      // the reader trims surrounding whitespace in character data by
      // default — disable so ' padded ' survives byte-for-byte
      .option("ignoreSurroundingSpaces", "false")
      .load(dir.toString)
  }

  /** Schema-EVOLVED parquet lake: `oldGen` lands first (the original
    * schema), `newGen` lands later with extra columns — the standard
    * lake lifecycle (a pipeline adds a column; history is not
    * rewritten). Reading with `mergeSchema` unions the footers: rows
    * from old files surface the missing columns as NULL. Scale note:
    * mergeSchema reconciles FOOTERS (one small read per file at
    * planning), not data — but on a million-file lake that planning
    * pass is real; production lakes pin the merged schema in a
    * catalog and pass it explicitly (`.schema(...)`), which this
    * reader also supports since any explicit schema skips the merge.
    */
  def schemaEvolvedLake(oldGen: DataFrame, newGen: DataFrame): DataFrame = {
    val dir = stageDir("graft-evolve-src-")
    oldGen.write.mode("append").parquet(dir.toString)
    newGen.write.mode("append").parquet(dir.toString)
    oldGen.sparkSession.read
      .option("mergeSchema", "true")
      .parquet(dir.toString)
  }

  /** Planning-time partition-pruning assertion shared by q141 and the
    * LakeIngest walkthrough: the filter must land in the scan's
    * `PartitionFilters` (directory pruning), not as a post-scan data
    * filter. Collects from the PRE-AQE `sparkPlan`: under adaptive
    * execution `executedPlan` is an `AdaptiveSparkPlanExec` leaf that
    * can hide the scan node and turn this check into a false failure.
    */
  def assertPartitionPruned(df: DataFrame): Unit = {
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    require(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "partition-column filter must prune at planning time (PartitionFilters)")
  }

  /** Parquet with ZSTD compression — the production codec at 100 TB
    * (better ratio than snappy at comparable decode speed; the default
    * choice for both warehouse tables and long-retention lakes).
    * Backed by zstd-jni inside the parquet writer, so no native Hadoop
    * codec is involved, and the files stay SPLITTABLE: parquet
    * compresses per column-chunk/page inside the container, so row
    * groups remain independently readable — unlike a raw `.zst` text
    * drop, which is one opaque frame a reader cannot split (the same
    * contrast SourcesSpec pins for gzip). The writer's codec choice is
    * asserted from the landed file names (`*.zstd.parquet`), so the
    * round trip can't silently fall back to snappy.
    */
  def parquetZstdRoundTrip(df: DataFrame, parts: Int = 4): DataFrame = {
    val dir = stageDir("graft-zstd-src-")
    df.repartition(parts).write.mode("overwrite")
      .option("compression", "zstd")
      .parquet(dir.toString)
    // Files.list streams hold an open directory descriptor until
    // closed — bench iterations call this repeatedly
    val listing = Files.list(dir)
    val sawZstd =
      try {
        val it = listing.iterator()
        var found = false
        while (it.hasNext && !found)
          found = it.next().getFileName.toString.endsWith(".zstd.parquet")
        found
      } finally listing.close()
    require(sawZstd, "zstd codec did not land in the parquet file names")
    df.sparkSession.read.schema(df.schema).parquet(dir.toString)
  }

  /** Hive-style partitioned parquet lake: write `df` partitioned by
    * `partCol` (one directory per value), read it back, and let the
    * caller's `WHERE partCol = …` prune to the matching directories —
    * the single biggest 100 TB scan lever (a filtered read touches
    * only the selected partitions' bytes; PartitionFilters in the
    * plan, verified in SourcesSpec). The partition column round-trips
    * through the DIRECTORY NAME, not the data files, so its type is
    * re-derived on read — pass `partColType` casting expectations via
    * the caller's schema discipline (string columns round-trip as-is).
    */
  def partitionedRoundTrip(df: DataFrame, partCol: String): DataFrame = {
    val dir = stageDir("graft-part-src-")
    df.write.mode("overwrite").partitionBy(partCol).parquet(dir.toString)
    df.sparkSession.read.parquet(dir.toString)
  }

  /** Write each row's payload bytes as ONE FILE under `dir` — the
    * media/shard SINK: tasks write their own rows directly (the
    * object-store-client posture on a real cluster; local filesystem
    * here), so the write parallelizes with zero driver coordination.
    * `nameCol` must yield unique flat names (slashes and `..` are
    * refused — file layout is the CALLER's contract, not data's).
    */
  def writeBinaryFiles(df: DataFrame, dir: Path,
                       nameCol: org.apache.spark.sql.Column,
                       bytesCol: org.apache.spark.sql.Column): Unit = {
    import org.apache.spark.sql.{Encoder, Encoders}
    // Executor tasks write to `dir` via java.nio — visible to the
    // driver's subsequent listing ONLY when driver and executors share
    // the filesystem. On a real cluster this sink must point at shared
    // storage (NFS/object-store mount); fail loudly rather than let a
    // cluster caller silently read back an empty/partial directory.
    require(df.sparkSession.sparkContext.isLocal,
      "writeBinaryFiles writes executor-local files; on a cluster use a " +
        "shared/object-store path and a distributed FS client instead")
    Files.createDirectories(dir)
    val target = dir.toString
    implicit val enc: Encoder[(String, Array[Byte])] =
      Encoders.tuple(Encoders.STRING, Encoders.BINARY)
    df.select(nameCol.cast("string"), bytesCol)
      .as[(String, Array[Byte])]
      .foreachPartition { it: Iterator[(String, Array[Byte])] =>
        it.foreach { case (name, bytes) =>
          require(name != null && !name.contains('/') &&
            !name.contains("..") && name.nonEmpty,
            s"writeBinaryFiles needs flat, traversal-free names: '$name'")
          Files.write(Paths.get(target, name), bytes)
        }
      }
  }

  /** The binary-file SOURCE round trip: write per-row payload files,
    * then read the directory back through Spark's `binaryFile` source
    * — the ingest shape for a directory of media/shard files a
    * third party dropped (images, audio, WebDataset tars). Emits the
    * source's native schema `(path, modificationTime, length,
    * content)`; the glob prunes non-matching names AT LISTING, so a
    * mixed drop directory never even enumerates foreign files into
    * tasks. Payload identity is the caller's oracle (decode the
    * content with the repo's own codecs).
    */
  def binaryRoundTrip(df: DataFrame,
                      nameCol: org.apache.spark.sql.Column,
                      bytesCol: org.apache.spark.sql.Column,
                      glob: String): DataFrame = {
    val dir = stageDir("graft-bin-src-")
    writeBinaryFiles(df, dir, nameCol, bytesCol)
    df.sparkSession.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir.toString)
  }
}
