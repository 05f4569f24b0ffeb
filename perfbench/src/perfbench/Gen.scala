package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of
  * (seed, row index), so the same seed always yields the same inputs
  * and the expected output can be rebuilt without running the program. */
object Gen {

  /** splitmix64 finalizer over (seed, a, b). */
  def mix(seed: Long, a: Long, b: Long = 0L): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L + b * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Uniform draw in [0, n). */
  def pick(seed: Long, a: Long, b: Long, n: Int): Int =
    java.lang.Math.floorMod(mix(seed, a, b), n.toLong).toInt

  /** Row count and order-insensitive checksum over every column (in
    * `cols` order): the sum of per-row xxhash64, widened so it cannot
    * overflow. One pass over the frame. */
  final case class Sum(rows: Long, hash: BigDecimal)
  def checksum(df: DataFrame, cols: Seq[String]): Sum = {
    val r = df.select(count(lit(1)), sum(xxhash64(cols.map(col): _*).cast("decimal(20,0)"))).head()
    Sum(r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }

  private def rowsFrame(spark: SparkSession, n: Long, schema: StructType,
      row: Long => Row): DataFrame = {
    val enc = ExpressionEncoder(schema)
    spark.range(0, n, 1, math.max(1, spark.sparkContext.defaultParallelism))
      .map((i: java.lang.Long) => row(i.longValue()))(enc)
  }

  private def writeFile(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }

  private val Words: Array[String] = {
    val syll = Array("ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve", "da",
      "zu", "bo", "fe", "gi", "ha", "ju", "xo", "wy", "qe", "co")
    Array.tabulate(4000)(i =>
      syll(i % 20) + syll((i / 20) % 20) + (if (i >= 400) syll((i / 400) % 20) else ""))
  }
  private def phrase(seed: Long, a: Long, n: Int): String =
    (0 until n).map(j => Words(pick(seed, a, 1000L + j, Words.length))).mkString(" ")

  // ------------------------------------------------------------------
  // Change-tracking table: one CT version holding `rows` inserts over a
  // typed column mix with nulls.

  final case class Ct(seed: Long, rows: Long) {
    def schemaDdl: String =
      "id BIGINT, qty INT, price DOUBLE, amount DECIMAL(18,4), name STRING, " +
        "active BOOLEAN, created TIMESTAMP, day DATE"

    /** Output columns of the `ct` kind, in the sink's order. */
    def outputSchema: StructType = StructType(StructType.fromDDL(schemaDdl).fields ++ Seq(
      StructField("SYS_CHANGE_VERSION", LongType), StructField("SYS_CHANGE_OPERATION", StringType),
      StructField("ChangeTrackingVersion", LongType), StructField("ARCANE_MERGE_KEY", StringType)))
    def columns: Seq[String] = outputSchema.fieldNames.toSeq

    private def orNull(i: Long, c: Int, v: => Any): Any =
      if (pick(seed, i, c, 20) == 0) null else v

    /** Row `i` as the values a CT delta query returns for version 1. */
    def values(i: Long): Array[Any] = {
      val h = mix(seed, i)
      Array[Any](i,
        orNull(i, 1, Integer.valueOf((h & 0xffff).toInt - 1000)),
        orNull(i, 2, java.lang.Double.valueOf(((h >>> 16) & 0xfffffL) / 128.0)),
        orNull(i, 3, java.math.BigDecimal.valueOf((h >>> 8) % 100000000000L, 4)),
        orNull(i, 4, Words(pick(seed, i, 40, Words.length)) + "-" + (h >>> 44)),
        orNull(i, 5, java.lang.Boolean.valueOf((h & 1) == 1)),
        orNull(i, 6, new java.sql.Timestamp(1600000000000L + ((h >>> 20) % 100000000000L))),
        orNull(i, 7, java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(18000 + (h >>> 50) % 3000))),
        1L, "I", 1L, java.lang.Long.toHexString(mix(seed, i, 99)))
    }

    def expected(spark: SparkSession): DataFrame =
      rowsFrame(spark, rows, outputSchema, i => Row.fromSeq(values(i).toSeq))
  }

  // ------------------------------------------------------------------
  // CDM change feed: the entity document plus `files` small CSVs whose
  // NAME column carries quoted commas, quotes and newlines.

  final case class Cdm(seed: Long, files: Int, rowsPerFile: Int) {
    val entity = "BenchEntity"
    private val attrs = Seq("Start_LSN" -> "String", "End_LSN" -> "String",
      "DML_Action" -> "String", "Seq_Val" -> "String", "Update_Mask" -> "String",
      "RECID" -> "Int64", "NAME" -> "String", "QTY" -> "Int32",
      "PRICE" -> "Double", "ACTIVE" -> "Boolean", "MODIFIED" -> "DateTime")
    def rows: Long = files.toLong * rowsPerFile

    def outputSchema: StructType = StructType(Seq(
      "Start_LSN", "End_LSN", "DML_Action", "Seq_Val", "Update_Mask").map(StructField(_, StringType)) ++
      Seq(StructField("RECID", LongType), StructField("NAME", StringType),
        StructField("QTY", IntegerType), StructField("PRICE", DoubleType),
        StructField("ACTIVE", BooleanType), StructField("MODIFIED", TimestampType),
        StructField("ARCANE_MERGE_KEY", StringType)))
    def columns: Seq[String] = outputSchema.fieldNames.toSeq

    private def orNull(i: Long, c: Int, v: => Any): Any =
      if (pick(seed, i, c, 16) == 0) null else v

    /** Row `i` as typed values (the merge key is RECID as a string). */
    def values(i: Long): Array[Any] = {
      val h = mix(seed, i, 7)
      val recid = i * 7919L + 11
      val lsn = f"0x${i + 1}%016X"
      val name = pick(seed, i, 9, 6) match {
        case 0 => s"${Words(pick(seed, i, 10, Words.length))}, ${Words(pick(seed, i, 11, Words.length))}"
        case 1 => s"line one\nline \"two\" ${h & 0xff}"
        case _ => Words(pick(seed, i, 12, Words.length))
      }
      Array[Any](lsn, null, if ((h & 3) == 0) "UPDATE" else "INSERT", lsn,
        orNull(i, 2, java.lang.Long.toHexString(h >>> 40)), recid,
        orNull(i, 3, name), orNull(i, 4, Integer.valueOf((h >>> 8).toInt & 0xfffff)),
        orNull(i, 5, java.lang.Double.valueOf(((h >>> 24) & 0xffffffL) / 64.0)),
        orNull(i, 6, java.lang.Boolean.valueOf((h & 16) == 0)),
        orNull(i, 7, new java.sql.Timestamp(1000L * (1600000000L + (h >>> 36) % 100000000L))),
        recid.toString)
    }

    private def csvField(v: Any): String = v match {
      case null => ""
      case s: String if s.exists(c => c == ',' || c == '"' || c == '\n') =>
        "\"" + s.replace("\"", "\"\"") + "\""
      case t: java.sql.Timestamp =>
        java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
          .withZone(java.time.ZoneOffset.UTC).format(t.toInstant)
      case x => x.toString
    }

    /** Write the feed under `root`; returns the CSV paths. */
    def write(root: Path): Seq[Path] = {
      val atts = attrs.map { case (n, t) => s"""{"name": "$n", "dataFormat": "$t"}""" }
      writeFile(root.resolve(s"ChangeFeed/$entity.cdm.json"),
        s"""{"jsonSchemaSemanticVersion": "1.4.0", "definitions": [
           |  {"entityName": "$entity", "hasAttributes": [${atts.mkString(", ")}]}]}""".stripMargin)
      (0 until files).map { f =>
        val sb = new StringBuilder
        (0 until rowsPerFile).foreach { r =>
          val v = values(f.toLong * rowsPerFile + r)
          sb.append(v.take(v.length - 1).map(csvField).mkString(",")).append('\n')
        }
        val p = root.resolve(f"ChangeFeed/$entity/$entity%s_$f%05d.csv")
        writeFile(p, sb.toString)
        // ascending modification times keep the file stream's order
        Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(1600000000000L + f * 1000L))
        p
      }
    }

    def expected(spark: SparkSession): DataFrame =
      rowsFrame(spark, rows, outputSchema, i => Row.fromSeq(values(i).toSeq))
  }

  // ------------------------------------------------------------------
  // Documents with planted duplicates, from `sources` sources.

  /** A document and what the generator planted it as: `dupOf` is the
    * id whose text it copies exactly, `nearOf` the id it perturbs. */
  final case class Doc(id: Long, source: String, text: String,
      dupOf: Option[Long], nearOf: Option[Long])

  /** `history` docs seed the store; `files` × `perFile` docs arrive on
    * the stream. About `exactPct`% of arrivals copy an earlier base doc
    * (from the history or an earlier file) and `nearPct`% perturb one. */
  final case class Docs(seed: Long, history: Int, files: Int, perFile: Int,
      exactPct: Int = 10, nearPct: Int = 10, sources: Int = 6) {
    def firstStreamId: Long = history.toLong
    def streamCount: Long = files.toLong * perFile

    private def baseText(id: Long): String = phrase(seed, id, 60 + pick(seed, id, 3, 60))

    /** All documents in arrival order: history first, then file by file. */
    lazy val all: IndexedSeq[Doc] = {
      val out = new scala.collection.mutable.ArrayBuffer[Doc](history + files * perFile)
      val bases = new scala.collection.mutable.ArrayBuffer[Long]()
      def base(id: Long) = Doc(id, s"src${pick(seed, id, 2, sources)}", baseText(id), None, None)
      (0 until history).foreach { i => val d = base(i.toLong); out += d; bases += d.id }
      (0 until files).foreach { f =>
        val eligible = bases.size // only docs from the history or earlier files
        (0 until perFile).foreach { j =>
          val id = history.toLong + f.toLong * perFile + j
          val r = pick(seed, id, 4, 100)
          val d =
            if (r < exactPct) {
              val o = out(bases(pick(seed, id, 5, eligible)).toInt)
              Doc(id, s"src${pick(seed, id, 2, sources)}", o.text, Some(o.id), None)
            } else if (r < exactPct + nearPct) {
              val o = out(bases(pick(seed, id, 5, eligible)).toInt)
              val toks = o.text.split(' ')
              val k = pick(seed, id, 6, toks.length)
              toks(k) = Words(pick(seed, id, 7, Words.length))
              Doc(id, s"src${pick(seed, id, 2, sources)}", toks.mkString(" "), None, Some(o.id))
            } else base(id)
          out += d
        }
        out.slice(out.size - perFile, out.size).foreach(d =>
          if (d.dupOf.isEmpty && d.nearOf.isEmpty) bases += d.id)
      }
      out.toIndexedSeq
    }
    def historyDocs: Seq[Doc] = all.take(history)
    def file(f: Int): Seq[Doc] = all.slice(history + f * perFile, history + (f + 1) * perFile)

    def frame(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
      import spark.implicits._
      docs.map(d => (d.id, d.text, d.source)).toDF("doc_id", "text", "source")
    }

    /** One parquet file per stream file under `dir`. */
    def writeStream(spark: SparkSession, dir: Path): Unit =
      (0 until files).foreach { f =>
        frame(spark, file(f)).coalesce(1).write.parquet(dir.resolve(f"f$f%05d").toString)
      }
  }

  // ------------------------------------------------------------------
  // Corpus for the batch build: documents (ids below 20 are the
  // decontamination slice) plus 64-dim embeddings. Exact copies share
  // their original's embedding; near copies get a small offset.

  final case class Corpus(seed: Long, n: Int, sources: Int = 6) {
    lazy val docs: Docs = Docs(seed, history = n / 2, files = 1, perFile = n - n / 2,
      exactPct = 16, nearPct = 16, sources = sources)
    /** Docs whose text contains a decontamination-slice document. */
    private def contaminated(d: Doc): Boolean = d.id >= 20 && pick(seed, d.id, 8, 50) == 0

    def rows: Seq[Doc] = docs.all.map { d =>
      if (contaminated(d)) d.copy(text = d.text + " " + docs.all(pick(seed, d.id, 9, 20)).text)
      else d
    }

    def embedding(d: Doc): Array[Float] = {
      val anchor = d.dupOf.orElse(d.nearOf).getOrElse(d.id)
      Array.tabulate(64) { j =>
        val base = (mix(seed, anchor, 500L + j) >>> 40).toFloat / (1 << 24) - 0.5f
        if (d.nearOf.isDefined) base + ((mix(seed, d.id, 600L + j) >>> 40).toFloat / (1 << 24) - 0.5f) * 0.02f
        else base
      }
    }

    def write(spark: SparkSession, docsPath: String, embPath: String): Unit = {
      import spark.implicits._
      val rs = rows
      rs.map(d => (d.id, d.text, d.source)).toDF("doc_id", "text", "source")
        .repartition(4).write.parquet(docsPath)
      rs.map(d => (d.id, embedding(d).toSeq)).toDF("vec_id", "embedding")
        .repartition(4).write.parquet(embPath)
    }
  }
}
