package graft.olapsus

import java.io.{BufferedReader, FileNotFoundException, InputStreamReader}

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.csv.{CSVExprUtils, CSVOptions}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Landing-zone file listing over ANY Hadoop FileSystem.
  *
  * The reference enumerates `s3a://landing/source_sus/<dataset>/dt=<d>/`
  * with a py4j `FileSystem.globStatus` hop (spark_script_sim.py:13-25);
  * here the filesystem is resolved straight from the URI scheme via
  * `Path.getFileSystem`, so `s3a://`, `hdfs://`, `file:` and local bare
  * paths all take the same code path — an object store needs only its
  * connector jar + `fs.<scheme>.impl`/credential configuration on the
  * session, no code change. Listing is driver-side metadata (one RPC
  * per day partition), and the returned concrete file list feeds
  * `spark.read.csv(paths: _*)` directly, which also guards the
  * empty-day case without scanning anything. The schema of that read
  * comes from the files' header line, also read on the driver
  * ([[batchSchema]]).
  */
object Landing {

  /** All CSV files of one `dt=` day partition, fully-qualified in the
    * prefix's own scheme; empty when the day has no drop. */
  def listDay(spark: SparkSession, prefix: String, dataset: String, date: String): Seq[String] =
    listGlob(spark, s"$prefix/$dataset/dt=$date/*.csv")

  def listGlob(spark: SparkSession, glob: String): Seq[String] = {
    val pattern = new Path(glob)
    val fs = pattern.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(pattern)).toSeq.flatten.map(_.getPath.toString).sorted
  }

  /** The schema one batch of raw landing CSVs (`;`-separated, header
    * row first) is read with: the header's names, every column a string.
    * None when no file has a data row. Read on the driver, so neither a
    * header-inference job nor an emptiness job runs.
    *
    * `paths` expand as Spark's reader expands them: globs through the
    * path's own FileSystem, a directory to the files under it without
    * `_`/`.`-prefixed names. Blank lines are skipped, as the reader skips
    * them. The first file with a non-blank line gives the header, and the
    * scan stops at the first file with a non-blank line after its header,
    * so a normal day reads two lines of one file. The header is split and
    * named by Spark's own inference code (a `CsvParser` with the reader's
    * settings, then `makeSafeHeader`), so quoted fields, empty names and
    * duplicates come out as `spark.read.option("header", "true")
    * .option("sep", ";").csv(...)` would name them. A path that matches
    * nothing fails, as it fails the reader. */
  def batchSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val options = new CSVOptions(Map("header" -> "true", "sep" -> ";"), true,
      spark.conf.get("spark.sql.session.timeZone"))
    val codecs = new CompressionCodecFactory(conf)
    def hidden(name: String) = (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")
    def leaves(fs: FileSystem, s: FileStatus): Iterator[Path] =
      if (s.isFile) Iterator(s.getPath)
      else fs.listStatus(s.getPath).sortBy(_.getPath.getName).iterator
        .filterNot(c => hidden(c.getPath.getName)).flatMap(leaves(fs, _))
    val files = paths.iterator.flatMap { p =>
      val pattern = new Path(p)
      val fs = pattern.getFileSystem(conf)
      val matched = Option(fs.globStatus(pattern)).toSeq.flatten.sortBy(_.getPath.toString)
      if (matched.isEmpty) throw new FileNotFoundException(s"Path does not exist: $p")
      matched.iterator.flatMap(leaves(fs, _)).map(fs -> _)
    }
    // (header, has a data row) of each file with a non-blank line.
    val scanned = files.flatMap { case (fs, f) =>
      val raw = fs.open(f)
      val in = Option(codecs.getCodec(f)).fold[java.io.InputStream](raw)(_.createInputStream(raw))
      val reader = new BufferedReader(new InputStreamReader(in, options.charset))
      try {
        val lines = CSVExprUtils.filterCommentAndEmpty(
          Iterator.continually(reader.readLine()).takeWhile(_ != null), options)
        if (lines.hasNext) Some(lines.next() -> lines.hasNext) else None
      } finally reader.close()
    }.buffered
    val header = Option.when(scanned.hasNext)(scanned.head._1)
    header.filter(_ => scanned.exists(_._2)).map { h =>
      val caseSensitive = spark.conf.get("spark.sql.caseSensitive").toBoolean
      val names = CSVUtils.makeSafeHeader(
        new CsvParser(options.asParserSettings).parseLine(h), caseSensitive, options)
      StructType(names.toSeq.map(StructField(_, StringType)))
    }
  }
}
