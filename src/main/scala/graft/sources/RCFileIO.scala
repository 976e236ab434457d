package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{LongWritable, NullWritable}
import org.apache.hadoop.mapred.{FileInputFormat, JobConf}
import org.apache.hadoop.hive.ql.io.{RCFileInputFormat, RCFileOutputFormat}
import org.apache.hadoop.hive.serde2.ColumnProjectionUtils
import org.apache.hadoop.hive.serde2.columnar.{BytesRefArrayWritable, BytesRefWritable}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** RCFile read/write (SURVEY.md §2.2; Hive `QL/io/RCFile.java` — the
  * columnar row-group format every pre-ORC Hive warehouse accumulated,
  * ICDE'11 "RCFile: A Fast and Space-efficient Data Placement
  * Structure"). The one legacy format that previously had NO migration
  * path here; this module closes it by building directly on Hive's own
  * `RCFileInputFormat`/`RCFileOutputFormat` classes (hive-exec on the
  * classpath), so what is read and written IS Hive's format — not a
  * re-implementation that could drift on sync markers or column-group
  * encoding.
  *
  * Data encoding matches the default `ColumnarSerDe` +
  * LazySimpleSerDe text convention (each column's bytes are the text
  * rendering of the value, `\N` for NULL) — shared verbatim with
  * [[SequenceFileIO]]'s field codec, because it IS the same serde
  * family in Hive. Schema is caller-supplied (schema-on-read from the
  * metastore, SURVEY §1.3).
  *
  * Scale shape: write is a narrow per-partition converter (one RCFile
  * per task, no shuffle); read splits on row groups via Hadoop splits.
  * COLUMN PRUNING — RCFile's reason to exist — is honored: pass
  * `columns` and the reader sets Hive's read-column projection
  * (`ColumnProjectionUtils`), so skipped columns' byte groups are
  * never decompressed or materialized (they surface as zero-length
  * refs); at 100 TB a 2-column projection of a 50-column table reads
  * ~4% of the bytes, exactly as it did under Hive. */
object RCFileIO {

  /** Hadoop Configuration does not serialize; ship it to executors via
    * its own Writable contract (the standard wrapper pattern). */
  private final class SerializableHadoopConf(
      @transient private var conf: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    def value: org.apache.hadoop.conf.Configuration = conf
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new org.apache.hadoop.conf.Configuration(false)
      conf.readFields(in)
    }
  }

  /** Write `df` under `path` as RCFiles — one file per task, each
    * written with Hive's own `RCFile.Writer` (Spark's Hadoop-output
    * commit path can't drive `RCFileOutputFormat`: it resolves files
    * against the MR task work dir that only classic MR sets, so the
    * writer is driven directly with deterministic part names; a
    * retried task overwrites its own file). `compress` turns on the
    * column-group codec path (DefaultCodec), which readers handle
    * transparently from the file header. */
  def write(df: DataFrame, path: String, compress: Boolean = false): Unit = {
    val schema = df.schema
    val n = schema.length
    val conf = new JobConf(df.sparkSession.sparkContext.hadoopConfiguration)
    RCFileOutputFormat.setColumnNumber(conf, n)
    val scConf = new SerializableHadoopConf(conf)
    val dts = schema.fields.map(_.dataType)
    val doCompress = compress
    val outDir = new Path(path)
    val fs0 = outDir.getFileSystem(conf)
    fs0.mkdirs(outDir)
    df.rdd.mapPartitionsWithIndex { (idx, rows) =>
      val jc = scConf.value
      val file = new Path(path, f"part-$idx%05d")
      val fs = file.getFileSystem(jc)
      val codec =
        if (doCompress)
          org.apache.hadoop.util.ReflectionUtils.newInstance(
            classOf[org.apache.hadoop.io.compress.DefaultCodec], jc)
        else null
      val writer = new org.apache.hadoop.hive.ql.io.RCFile.Writer(
        fs, jc, file, null, codec)
      val braw = new BytesRefArrayWritable(n)
      rows.foreach { row =>
        var i = 0
        while (i < n) {
          val bytes = SequenceFileIO.toText(row.get(i), dts(i), '\u0001')
            .getBytes(UTF_8)
          braw.set(i, new BytesRefWritable(bytes, 0, bytes.length))
          i += 1
        }
        writer.append(braw)
      }
      writer.close()
      Iterator.single(1)
    }.count()
    // marker written LAST: its presence certifies a complete layout
    fs0.create(new Path(outDir, "_SUCCESS")).close()
  }

  /** Read RCFiles under `path` with the given FULL schema; `columns`
    * (if set) prunes the scan to those fields — the other column
    * groups are skipped at the format level, not filtered after. */
  def read(spark: SparkSession, path: String, schema: StructType,
           columns: Option[Seq[String]] = None): DataFrame = {
    val fieldIdx = schema.fieldNames.zipWithIndex.toMap
    val selected: Seq[Int] = columns match {
      case None => schema.indices
      case Some(names) => names.map(c => fieldIdx.getOrElse(c,
        sys.error(s"column $c not in schema ${schema.fieldNames.mkString(",")}")))
    }
    val outSchema = StructType(selected.map(schema(_)))
    val java8 = spark.conf
      .getOption("spark.sql.datetime.java8API.enabled").exists(_.toBoolean)
    val conf = new JobConf(spark.sparkContext.hadoopConfiguration)
    FileInputFormat.setInputPaths(conf, new Path(path))
    if (selected.size < schema.length) {
      val ids = new java.util.ArrayList[Integer](selected.size)
      selected.foreach(i => ids.add(Int.box(i)))
      ColumnProjectionUtils.setReadColumnIDs(conf, ids)
    } else {
      ColumnProjectionUtils.setReadAllColumns(conf)
    }
    val dts = outSchema.fields.map(_.dataType)
    val sel = selected.toArray
    val rows = spark.sparkContext.hadoopRDD(conf,
        classOf[RCFileInputFormat[LongWritable, BytesRefArrayWritable]]
          .asInstanceOf[Class[org.apache.hadoop.mapred.InputFormat[
            LongWritable, BytesRefArrayWritable]]],
        classOf[LongWritable], classOf[BytesRefArrayWritable])
      .map { case (_, braw) =>
        // convert IMMEDIATELY: the record reader reuses the writable
        Row.fromSeq(sel.indices.map { j =>
          val ref = braw.get(sel(j))
          val s = new String(ref.getData, ref.getStart, ref.getLength, UTF_8)
          SequenceFileIO.fromText(s, dts(j), java8)
        }.toIndexedSeq)
      }
    spark.createDataFrame(rows, outSchema)
  }

  // ------------------------------------------------------------------
  // driver-contract query: supplier copied to RCFile once, read back
  // with a 2-of-7 column projection, aggregated
  // ------------------------------------------------------------------

  private def supplierFixture(spark: SparkSession, sfDir: String): String =
    graft.Fixtures.buildOnce(spark, sfDir, "rcfile_supplier", Seq("supplier"),
        committed = "_SUCCESS") { dir =>
      write(spark.table("supplier"), dir)
      0L
    }._1

  private type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "source_rcfile_scan" -> ((spark, sfDir) => {
      graft.Tables.register(spark, sfDir)
      val dir = supplierFixture(spark, sfDir)
      val pruned = read(spark, dir, spark.table("supplier").schema,
        columns = Some(Seq("s_nationkey", "s_acctbal")))
      pruned.createOrReplaceTempView("rcfile_supplier")
      spark.sql("""
        SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
               CAST(SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
        FROM rcfile_supplier
        GROUP BY s_nationkey ORDER BY s_nationkey""")
    })
  )

  // the oracle reads the SOURCE parquet: the RCFile round-trip +
  // pruned scan must preserve every value exactly
  val oracle: Map[String, String] = Map(
    "source_rcfile_scan" -> """
      SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
             CAST(SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
      FROM supplier
      GROUP BY s_nationkey ORDER BY s_nationkey"""
  )
}
