package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** DRIVER-LOCAL manifest parquet reader (r19).
  *
  * Every versioned-store operation opens at least one manifest, and a
  * manifest is bounded metadata: one row per (file, part) with stats
  * envelopes — a single coalesce(1) parquet file of a few KB. Opening
  * it through `spark.read.parquet(...).collect()` pays a full
  * driver-scheduled Spark job (~50–100 ms scheduling + task round-trip)
  * for what is a few thousand bytes of local I/O; profiled across the
  * bench the store gates pay that job HUNDREDS of times (guide §5
  * action count, §6 metadata). This reader decodes the manifest rows on
  * the driver with the parquet example Group API, so
  * [[Versioned.readManifest]] can answer a LocalRelation — every
  * downstream `.collect()`/`.filter()` over it then runs job-free
  * inside the optimizer, with zero call-site changes.
  *
  * TRUST BOUNDARY: every commit casts its manifest to the constant
  * [[Versioned.ManifestSchema]] and writes it as the
  * `_manifest_schema.json` sidecar, and [[Versioned]] refuses a version
  * without it, so the rows always decode against the exact Spark schema
  * the commit pinned. It is the ONLY manifest reader: a manifest that
  * does not decode (an unsupported type, a corrupt file — only a
  * foreign or damaged log can hold one) fails the open loudly, naming
  * the manifest directory and the version, exactly as a missing sidecar
  * does. ManifestLocalSpec pins row-for-row agreement with Spark's
  * distributed parquet read on stats/dv/evolution manifests. */
private[graft] object ManifestLocal {

  import org.apache.parquet.example.data.Group
  import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
  import org.apache.parquet.hadoop.ParquetFileReader
  import org.apache.parquet.hadoop.util.HadoopInputFile
  import org.apache.parquet.io.ColumnIOFactory
  import org.apache.parquet.schema.{GroupType, Type}

  /** Read every data row of version `v`'s manifest directory `dir`
    * (its parquet part files), decoded to `schema` (the sidecar schema).
    * Any decode failure raises an `IllegalStateException` naming `dir`
    * and `v`. */
  def readRows(dir: String, v: Long, schema: StructType): Seq[Row] =
    try {
      val parts = Option(new java.io.File(dir).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
          !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .sortBy(_.getName)
      val out = Seq.newBuilder[Row]
      parts.foreach { part =>
        val in = HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(part.getPath),
          new org.apache.hadoop.conf.Configuration(false))
        val reader = ParquetFileReader.open(in)
        try {
          val fileSchema = reader.getFooter.getFileMetaData.getSchema
          val io = new ColumnIOFactory().getColumnIO(fileSchema)
          var pages = reader.readNextRowGroup()
          while (pages != null) {
            val rr = io.getRecordReader(pages,
              new GroupRecordConverter(fileSchema))
            var i = 0L
            val n = pages.getRowCount
            while (i < n) {
              out += convertStruct(rr.read(), fileSchema, schema)
              i += 1
            }
            pages = reader.readNextRowGroup()
          }
        } finally reader.close()
      }
      out.result()
    } catch {
      case scala.util.control.NonFatal(e) => throw new IllegalStateException(
        s"Versioned: version $v manifest ($dir) does not decode under its " +
          s"committed _manifest_schema.json — the log is damaged: $e", e)
    }

  /** One parquet record group → Spark Row under the target struct.
    * Fields the file lacks decode as null (by-name resolution, the same
    * contract as the distributed reader). */
  private def convertStruct(g: Group, gt: GroupType,
      target: StructType): Row = {
    val values = target.fields.map { f =>
      if (!gt.containsField(f.name)) null
      else {
        val idx = gt.getFieldIndex(f.name)
        if (g.getFieldRepetitionCount(idx) == 0) null
        else convertValue(g, gt, idx, f.dataType)
      }
    }
    Row.fromSeq(values.toIndexedSeq)
  }

  private def convertValue(g: Group, gt: GroupType, idx: Int,
      dt: DataType): Any = dt match {
    case StringType => g.getBinary(idx, 0).toStringUsingUTF8
    case LongType => g.getLong(idx, 0)
    case IntegerType => g.getInteger(idx, 0)
    case DoubleType => g.getDouble(idx, 0)
    case BooleanType => g.getBoolean(idx, 0)
    case BinaryType => g.getBinary(idx, 0).getBytes
    case ArrayType(et, _) =>
      // Spark 3-level list: group (LIST) { repeated group list {
      //   <element>; } }
      val lst = g.getGroup(idx, 0)
      val lt = gt.getType(idx).asGroupType()
      val inner = lt.getType(0).asGroupType()
      val n = lst.getFieldRepetitionCount(0)
      (0 until n).map { j =>
        val entry = lst.getGroup(0, j)
        if (entry.getFieldRepetitionCount(0) == 0) null
        else convertValue(entry, inner, 0, et)
      }
    case MapType(StringType, vt, _) =>
      // group (MAP) { repeated group key_value { key; value; } }
      val kv = g.getGroup(idx, 0)
      val kvt = gt.getType(idx).asGroupType().getType(0).asGroupType()
      val n = kv.getFieldRepetitionCount(0)
      (0 until n).map { j =>
        val entry = kv.getGroup(0, j)
        val k = entry.getBinary(0, 0).toStringUsingUTF8
        val v = if (entry.getFieldRepetitionCount(1) == 0) null
          else convertValue(entry, kvt, 1, vt)
        k -> v
      }.toMap
    case st: StructType =>
      convertStruct(g.getGroup(idx, 0), gt.getType(idx).asGroupType(), st)
    case other => throw new IllegalArgumentException(
      s"ManifestLocal: unsupported manifest field type ${other.sql}")
  }
}
