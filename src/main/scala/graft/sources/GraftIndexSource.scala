package graft.sources

import java.util.OptionalLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.sources.{And, DataSourceRegister, EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Not, Or, StringContains, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** PRODUCTION SERVING FACE of the persisted graft indexes — a real
  * DataSourceV2 connector (`spark.read.format("graft-index")
  * .load(path)`) over the Hive-partitioned parquet layouts the index
  * writers produce (IVF `cells/cell=N`, graph `edges/pcell=N`, plus the
  * unpartitioned `vecs`/`cents`/`cells` side tables). What the raw
  * `spark.read.parquet` probe path cannot offer, this table does:
  *
  *  - **Partition-filter pushdown as a first-class contract**: static
  *    `cell = k` / `cell IN (...)` predicates prune directories at
  *    PLANNING time and are claimed exactly (never re-evaluated) — and
  *    [[SupportsRuntimeFiltering]] accepts the dynamic-partition-pruning
  *    subquery a broadcast probe join plants, so the per-query cell
  *    pruning that probeIvfIndex hand-rolled via DPP-on-parquet is an
  *    ordinary V2 runtime filter.
  *  - **Data filters as pruning hints**: predicates on primitive data
  *    columns are NOT claimed — Spark keeps its Filter above the scan —
  *    but they reach the reader as parquet `FilterPredicate`s, so row
  *    groups whose statistics or dictionaries exclude the predicate and
  *    pages the column index rules out are never decoded. Pruning is
  *    conservative by parquet's contract, so the re-filter above keeps
  *    results exact.
  *  - **Aggregate pushdown from footer statistics**
  *    ([[SupportsPushDownAggregates]]): ungrouped COUNT(*) / MIN / MAX
  *    over numeric columns answer from row-group metadata — one row per
  *    file, ZERO data pages decoded; a file missing stats falls back to
  *    scanning just that column. Spark offers aggregates only to scans
  *    with no filter left above them, so data filters rule it out.
  *  - **Post-pruning statistics** ([[SupportsReportStatistics]]): the
  *    reported sizeInBytes covers ONLY the selected partitions, so a
  *    probe of 3 cells out of 4096 is broadcast-eligible above the scan
  *    even when the whole index is not.
  *  - **Key-grouped partition reporting**
  *    ([[SupportsReportPartitioning]]): a partitioned table plans one
  *    input split per partition directory carrying its partition key
  *    ([[HasPartitionKey]]), so cell-clustered operations (and
  *    storage-partitioned joins under
  *    `spark.sql.sources.v2.bucketing.enabled`) can skip the exchange.
  *  - **Column pruning to the IO layer**: the pruned schema becomes the
  *    parquet requested projection, so a probe reading (vec_b, vb, nb)
  *    out of a wider index never decodes the rest; a projection of
  *    partition columns only reads footers.
  *
  * ONE decode path: every scan that reads a data column hands each file
  * to Spark's own `VectorizedParquetRecordReader`
  * ([[GraftIndexSparkVectorReader]]), so decode semantics — types,
  * nested columns, missing columns, datetime rebase — are
  * spark.read.parquet's by construction. Only the decode-free readers
  * (footer row counts, footer-stats aggregates) are the connector's own.
  * Column types outside the supported set fail loudly at schema time.
  *
  * Registered as `graft-index` via DataSourceRegister, so
  * `CREATE TABLE ivf USING `graft-index` LOCATION path` gives the index
  * a catalog name.
  */
class GraftIndexSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-index"

  override def supportsExternalMetadata(): Boolean = true

  private def pathOf(m: java.util.Map[String, String]): String = {
    val p = m.get("path")
    require(p != null && p.nonEmpty,
      "graft-index: a single `path` is required (.load(path))")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftIndexTable.inferSchema(pathOf(options),
      mergeSchema = java.lang.Boolean.parseBoolean(
        options.getOrDefault("mergeSchema", "false")))

  override def inferPartitioning(options: CaseInsensitiveStringMap): Array[Transform] =
    GraftIndexTable.partitionColumns(pathOf(options))
      .map(c => Expressions.identity(c)).toArray

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new GraftIndexTable(pathOf(properties), schema)
}

object GraftIndexTable {
  private[sources] val PartDirRx = "([^=/]+)=([^/]*)".r
  private val PartDir = PartDirRx

  /** Hive's directory name for a NULL partition value — parsed as null
    * (matching `spark.read.parquet` over the same layout) instead of
    * failing the whole table at planning time.
    */
  val HiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Lineage metadata column (round-11, [[SupportsMetadataColumns]]):
    * `SELECT _file, ...` resolves to the data file each row came from —
    * the row→file provenance a curation/lineage pipeline wants from its
    * serving face, at zero read cost (a per-file constant, exactly like
    * a partition value). Hidden whenever the table carries a real
    * column of the same name.
    */
  val FileCol = "_file"

  /** Freshness signature of a table root: (mtime, direct child count).
    * The child count is mixed in because an overwrite landing within the
    * filesystem's mtime granularity would otherwise serve a stale cached
    * schema/partition-column set (round-10 ADVICE); a rewrite that
    * changes the layout almost always changes the child population too.
    */
  private def rootSig(path: String): (Long, Int) = {
    val root = new Path(path)
    val fs = root.getFileSystem(activeHadoopConf())
    if (!fs.exists(root)) (-1L, -1)
    else (fs.getFileStatus(root).getModificationTime, fs.listStatus(root).length)
  }

  /** ONE cache entry per path, replaced when the root signature moves —
    * a long session touching many scratch indexes no longer accretes
    * stale (path, oldMtime) entries (round-10 ADVICE: the former
    * (path, mtime)-keyed maps were unbounded).
    */
  private final class SigCache[V] {
    private val m = new java.util.concurrent.ConcurrentHashMap[
      String, ((Long, Int), V)]()
    /** `key` defaults to the path; pass a decorated key when one path
      * hosts several cacheable views (e.g. merged vs first-footer
      * schema) — the SIGNATURE always comes from the real path.
      */
    def get(path: String, key: String = null)(compute: => V): V =
      m.compute(if (key == null) path else key, (_, old) => {
        val sig = rootSig(path)
        if (old != null && old._1 == sig) old else (sig, compute)
      })._2
  }

  /** `name=value` directory chains define the partition columns, in
    * DEPTH order — multi-level Hive layouts (`a=1/b=2/part.parquet`)
    * are first-class (round-11; the former first-level-only scan
    * silently null-filled deeper levels as data columns, diverging
    * from spark.read.parquet). Every data file must sit under the SAME
    * ordered column chain; a mixed layout (files at different nesting,
    * or a bare file next to partition directories) is refused LOUDLY
    * at planning time instead of mis-typing columns. Cached like
    * [[inferSchema]] — the column set only changes via overwrite (root
    * recreated, new signature); appends add values, never columns —
    * and every table/scan construction asks.
    */
  def partitionColumns(path: String): Seq[String] =
    partColsCache.get(path) {
      val root = new Path(path)
      val fs = root.getFileSystem(activeHadoopConf())
      if (!fs.exists(root)) Nil
      else {
        // mirror listFiles' traversal, tracking the name chain per file
        def walk(p: Path, prefix: Seq[String]): Seq[Seq[String]] =
          fs.listStatus(p).toSeq.flatMap {
            case d if d.isDirectory => d.getPath.getName match {
              case PartDir(name, _) => walk(d.getPath, prefix :+ name)
              case _ => Nil
            }
            case f if f.getPath.getName.endsWith(".parquet") => Seq(prefix)
            case _ => Nil
          }
        val chains = walk(root, Nil).distinct
        // a bare root-level file renders as <root>, and the ellipsis only
        // appears when chains were actually elided (round-11 ADVICE: the
        // unconditional ", ...}" read as truncation on 2-chain messages)
        def render(c: Seq[String]) = if (c.isEmpty) "<root>" else c.mkString("/")
        require(chains.size <= 1,
          s"graft-index: inconsistent partition nesting under $path " +
            s"(every data file must sit under the same name=value chain): " +
            chains.take(3).map(render).mkString("{", ", ",
              if (chains.size > 3) ", ...}" else "}"))
        chains.headOption.getOrElse(Nil)
      }
    }

  private val partColsCache = new SigCache[Seq[String]]

  /** Schema inference, contract: byte-for-byte the schema
    * `spark.read.parquet(path)` infers over the same layout — the
    * parity every reader spec asserts. The FAST path (round-11, the
    * catalog/V2 fixed-planning-cost fix) reads ONE footer through
    * Spark's own parquet→Catalyst converter and infers the partition
    * column type from the directory values with Spark's numeric ladder
    * (int → long → double); anything it can't reproduce exactly —
    * non-numeric partition values (Spark would try dates), multiple
    * partition columns — falls back to the full spark.read planning.
    * ~10× cheaper per first touch, which a bench loop pays on every
    * index rewrite (each rewrite moves the cache signature).
    *
    * Cached by root signature: a probe loop re-loads the same index
    * many times. A schema change requires an overwrite, which recreates
    * the root directory (new signature); appends add files without
    * touching the schema — both invalidate or preserve the entry
    * correctly.
    */
  def inferSchema(path: String, mergeSchema: Boolean = false): StructType =
    schemaCache.get(path,
      key = if (mergeSchema) path + "\u0000merged" else path) {
      val s =
        // mergeSchema (round-11 read option): evolved file sets without
        // an explicit .schema() — Spark's own footer-merging inference,
        // cached under its own key so the views never collide
        if (mergeSchema)
          SparkSession.active.read.option("mergeSchema", "true")
            .parquet(path).schema
        else fastInferSchema(path).getOrElse(
          SparkSession.active.read.parquet(path).schema)
      s.foreach(f => require(supported(f.dataType),
        s"graft-index: unsupported column type ${f.dataType.catalogString} " +
          s"for '${f.name}' (primitives, arrays, and struct/map over them)"))
      val parts = partitionColumns(path).toSet
      s.filter(f => parts(f.name)).foreach(f => require(partSupported(f.dataType),
        s"graft-index: unsupported PARTITION column type " +
          s"${f.dataType.catalogString} for '${f.name}'"))
      s
    }

  private val schemaCache = new SigCache[StructType]

  /** Diagnostic counter for the planning-cost pins: number of
    * footer-based (fast-path) inferences actually performed.
    */
  private[graft] val footerInfers = new java.util.concurrent.atomic.AtomicLong

  /** File-source relations report every column — and every nested
    * field, array element, and map value — nullable regardless of the
    * footer's repetition (Spark's asNullable): mirror that recursively.
    */
  private def deepNullable(f: StructField): StructField =
    f.copy(nullable = true, dataType = nullableType(f.dataType))

  private def nullableType(dt: DataType): DataType = dt match {
    case ArrayType(e, _) => ArrayType(nullableType(e), containsNull = true)
    case MapType(k, v, _) =>
      MapType(nullableType(k), nullableType(v), valueContainsNull = true)
    case StructType(fields) => StructType(fields.map(deepNullable))
    case other => other
  }

  /** One-footer inference. None = a layout shape the fast path can't
    * reproduce byte-for-byte against Spark's inference — caller falls
    * back to spark.read.parquet.
    */
  private def fastInferSchema(path: String): Option[StructType] = try {
    val files = listFiles(path)
    if (files.isEmpty) return None
    val partColNames = files.flatMap(_._3.keys).distinct
    if (partColNames.length > 1) return None // one level, one column only
    // partition type: Spark's numeric ladder over ALL observed values
    // (int → long → double); the null sentinel contributes nothing; any
    // non-numeric value (Spark would try date/timestamp next) bails
    val partField = partColNames.headOption match {
      case None => None
      case Some(name) =>
        val raws = files.map(_._3(name)).distinct
          .filterNot(_ == HiveDefaultPartition)
        def all(p: String => Boolean) = raws.nonEmpty && raws.forall(p)
        def parses[T](f: String => T): String => Boolean =
          s => try { f(s); true } catch { case _: Exception => false }
        // strict zero-padded ISO dates (the form Spark's own writers
        // emit for DateType partition values) infer as DATE — exactly
        // what Spark's inference ladder yields for them; any other
        // date-ish form bails to the spark.read fallback
        def strictDate(v: String): Boolean =
          v.length == 10 && v(4) == '-' && v(7) == '-' &&
            parses(s => java.time.LocalDate.parse(s))(v)
        val dt =
          if (all(parses(_.toInt))) IntegerType
          else if (all(parses(_.toLong))) LongType
          else if (all(parses(_.toDouble))) DoubleType
          else if (all(strictDate)) DateType
          else if (raws.isEmpty) StringType // all-null partition
          else return None
        Some(StructField(name, dt, nullable = true))
    }
    // data schema: first data file's footer (sorted-path order) through
    // Spark's own converter — identical to what mergeSchema=false
    // inference reads on the uniform layouts the index writers emit
    val first = files.map(_._1).min
    val conf = activeHadoopConf()
    val msg = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(first), conf))
      try r.getFileMetaData.getSchema finally r.close()
    }
    val converter =
      new org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter(
        SparkSession.active.sessionState.conf)
    val data = StructType(converter.convert(msg).fields.map(deepNullable))
    footerInfers.incrementAndGet()
    Some(StructType(data.fields ++ partField))
  } catch { case _: Exception => None }

  /** Column types the table admits: the primitive leaves the index
    * writers and mounted serving tables use, and struct/map/array over
    * them (round-13) — all decoded by Spark's own vectorized reader.
    */
  private def supported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | FloatType | StringType |
         BooleanType | TimestampType | DateType | BinaryType |
         ShortType | ByteType | TimestampNTZType => true
    case _: DecimalType => true
    case StructType(fields) => fields.forall(f => supported(f.dataType))
    case MapType(k, v, _) => supported(k) && supported(v)
    case ArrayType(e, _) => supported(e)
    case _ => false
  }

  /** Partition-column types: the original primitive set plus DATE
    * (round-12) — the `dt=2026-08-16` daily layout is THE canonical
    * shape for a 100 TB event table, and parquet DATE (INT32 days) IS
    * Spark's internal DateType, so the value parse is a zero-conversion
    * epoch-day count. Timestamps stay DATA-column-only (round-11):
    * directory names don't carry a timezone.
    */
  private def partSupported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | FloatType | StringType |
         BooleanType | DateType => true
    case _ => false
  }

  private[sources] def activeHadoopConf(): Configuration =
    SparkSession.active.sparkContext.hadoopConfiguration

  /** All data files with their partition values: (file path, size,
    * partition value map).
    */
  def listFiles(path: String): Seq[(String, Long, Map[String, String])] = {
    val root = new Path(path)
    val fs = root.getFileSystem(activeHadoopConf())
    def walk(p: Path, parts: Map[String, String]): Seq[(String, Long, Map[String, String])] =
      fs.listStatus(p).toSeq.flatMap {
        case d if d.isDirectory => d.getPath.getName match {
          case PartDir(name, value) => walk(d.getPath, parts + (name -> value))
          case _ => Nil // _temporary etc.
        }
        case f if f.getPath.getName.endsWith(".parquet") =>
          Seq((f.getPath.toString, f.getLen, parts))
        case _ => Nil
      }
    walk(root, Map.empty)
  }
}

class GraftIndexTable(path: String, tableSchema: StructType)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String = s"graft_index(`$path`)"
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    if (tableSchema.fieldNames.contains(GraftIndexTable.FileCol)) Array.empty
    else Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftIndexTable.FileCol
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "data file this row came from (lineage; per-file constant)"
    })
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def partitioning(): Array[Transform] =
    GraftIndexTable.partitionColumns(path)
      .map(c => Expressions.identity(c)).toArray
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    def positive(key: String): Option[Long] = Option(options.get(key)).map { v =>
      val n = try v.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft-index: $key must be a positive integer, got '$v'")
      }
      require(n > 0, s"graft-index: $key must be positive, got $n")
      n
    }
    new GraftIndexScanBuilder(path, tableSchema,
      GraftIndexTable.partitionColumns(path),
      // the cap is consumed as an Int (ReadLimit.maxFiles) — a value past
      // Int.MaxValue must fail HERE, not silently wrap to a non-positive
      // cap that admits nothing (round-11 ADVICE)
      maxFilesPerTrigger = positive("maxFilesPerTrigger").map { n =>
        require(n <= Int.MaxValue,
          s"graft-index: maxFilesPerTrigger out of Int range: $n")
        n.toInt
      },
      maxBytesPerTrigger = positive("maxBytesPerTrigger"),
      logRetention = Option(options.get("admissionLogRetention"))
        .map(_.toLowerCase(java.util.Locale.ROOT)).map {
          case v @ ("all" | "committed") => v
          case other => throw new IllegalArgumentException(
            "graft-index: admissionLogRetention must be 'all' or " +
              s"'committed', got '$other'")
        }.getOrElse("all"))
  }
}

class GraftIndexScanBuilder(path: String, tableSchema: StructType,
    partColsOrdered: Seq[String],
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    logRetention: String = "all")
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit {

  private val partCols = partColsOrdered.toSet
  private var required: StructType = tableSchema
  private var pushedPart: Array[Filter] = Array.empty
  private var hintData: Array[Filter] = Array.empty
  private var agg: Option[Aggregation] = None
  private var aggSchema: StructType = _
  private var limit: Option[Int] = None

  /** LIMIT pushdown: each split stops after n rows (partial — Spark
    * keeps its own global limit above). Zero-data COUNT paths and
    * pushed aggregates ignore it (they never decode rows anyway).
    */
  override def pushLimit(n: Int): Boolean = {
    limit = Some(n)
    false // partial: Spark still applies the global limit
  }

  private def dataColType(name: String): Option[DataType] =
    tableSchema.find(f => f.name == name && !partCols(f.name)).map(_.dataType)

  /** Partition-column filters prune directories; see the pruner for the
    * evaluated shapes. Null comparands are rejected (they stay with
    * Spark, which evaluates them to unknown/false) — the same guard
    * [[hintable]] applies, so a legal `cell IN (1, NULL)` never
    * reaches the pruner's comparator. EqualNullSafe and IsNull ARE
    * claimed: null partition values exist (Hive default-partition
    * directories) and the pruner matches them exactly.
    */
  private def partPushable(f: Filter): Boolean =
    f.references.nonEmpty && f.references.forall(partCols.contains) && (f match {
      case EqualTo(_, v) => v != null
      case _: EqualNullSafe | _: IsNotNull | _: IsNull => true
      case In(_, vs) => vs != null && vs.nonEmpty && vs.forall(_ != null)
      case GreaterThan(_, v) => v != null
      case GreaterThanOrEqual(_, v) => v != null
      case LessThan(_, v) => v != null
      case LessThanOrEqual(_, v) => v != null
      // `<>` / NOT IN (round-12): claimed as the leaves they desugar to
      // under SQL semantics — And(IsNotNull, ≠ each) — which map
      // unknown→false like every other claimed leaf
      case Not(EqualTo(_, v)) => v != null
      case Not(In(_, vs)) => vs != null && vs.nonEmpty && vs.forall(_ != null)
      // string predicates: never match null, so unknown→false holds
      case StringStartsWith(_, v) => v != null
      case StringEndsWith(_, v) => v != null
      case StringContains(_, v) => v != null
      // negation-free compounds of claimed legs compose exactly: every
      // leg maps SQL unknown→false, and false ≡ unknown through a
      // monotone AND/OR lattice for the keep/drop decision (a general
      // Not would break it and stays refused — Not(EqualTo) above is the
      // one negated leaf whose claimed semantic is itself negation-free)
      case Or(l, r) => partPushable(l) && partPushable(r)
      case And(l, r) => partPushable(l) && partPushable(r)
      case _ => false
    })

  /** Data-column filters that translate to parquet FilterPredicates
    * ([[GraftIndexFilters.toParquet]]) — used as PRUNING HINTS only,
    * never claimed. A hint may keep rows the filter drops (Spark's
    * Filter above removes them) but must never drop a row the filter
    * keeps, so only shapes whose parquet null semantics are at least as
    * permissive as SQL's translate: a bare parquet notEq keeps nulls
    * where SQL `!=` drops them, so `Not(EqualTo)` becomes
    * `and(notEq(c, null), notEq(c, v))` and general Not-shapes stay
    * out. Every leaf maps SQL unknown→false, so negation-free OR/AND
    * compounds of them compose (false and unknown are
    * indistinguishable through a monotone AND/OR lattice for WHERE's
    * keep-iff-TRUE decision).
    */
  private def hintable(f: Filter): Boolean = f match {
    case EqualTo(a, v) => v != null && primitive(a)
    case Not(EqualTo(a, v)) => v != null && primitive(a)
    case In(a, vs) => vs.nonEmpty && vs.forall(_ != null) && primitive(a)
    // NOT IN desugars like `<>`: And(IsNotNull, ≠v1, ≠v2, …)
    case Not(In(a, vs)) => vs.nonEmpty && vs.forall(_ != null) && primitive(a)
    // string predicates (round-12): parquet UserDefinedPredicates; none
    // matches NULL. startsWith also prunes row groups off min/max stats.
    case StringStartsWith(a, v) => v != null && stringCol(a)
    case StringEndsWith(a, v) => v != null && stringCol(a)
    case StringContains(a, v) => v != null && stringCol(a)
    case GreaterThan(a, v) => v != null && comparable(a)
    case GreaterThanOrEqual(a, v) => v != null && comparable(a)
    case LessThan(a, v) => v != null && comparable(a)
    case LessThanOrEqual(a, v) => v != null && comparable(a)
    case IsNull(a) => primitive(a)
    case IsNotNull(a) => primitive(a)
    case Or(l, r) => hintable(l) && hintable(r)
    case And(l, r) => hintable(l) && hintable(r)
    case _ => false
  }

  private def primitive(name: String): Boolean = dataColType(name).exists {
    case LongType | IntegerType | DoubleType | FloatType | StringType |
         DateType | ShortType | ByteType => true
    case _ => false
  }
  private def stringCol(name: String): Boolean =
    dataColType(name).contains(StringType)
  // DATE joins the comparable set (round-12): the comparand arrives as
  // java.sql.Date / LocalDate and converts losslessly to the INT32
  // epoch-day count parquet stores, so eq/range hints prune row groups
  // — a date-range scan over a 100 TB event table is the single most
  // common serving predicate there is. SHORT/BYTE (same sitting) are
  // INT32-annotated physicals — the same intColumn comparators. The
  // comparable set doubles as the footer MIN/MAX aggregate set.
  // DECIMAL, BINARY and timestamps give no hints.
  private def comparable(name: String): Boolean = dataColType(name).exists {
    case LongType | IntegerType | DoubleType | FloatType | DateType |
         ShortType | ByteType => true
    case _ => false
  }

  /** Partition filters are CLAIMED (exact directory pruning); every
    * data filter goes back to Spark, which runs it above the scan. The
    * hintable ones also reach the reader as parquet predicates, so
    * Spark's vectorized reader prunes row groups (stats/dictionary) and
    * pages (column index) with them. A bare `IS NOT NULL` conjunct — the
    * constraint Spark infers beside every comparison and join key — is
    * left out: it can only prune all-null groups, yet any predicate makes
    * the reader fetch column indexes for every row group it reads.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (part, rest) = filters.partition(partPushable)
    pushedPart = part
    hintData = rest.filter(f => hintable(f) && !f.isInstanceOf[IsNotNull])
    rest
  }
  override def pushedFilters(): Array[Filter] = pushedPart

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Footer-stats aggregates: COUNT(*) / MIN / MAX over numeric data
    * columns (string stats may be truncated — refused), ungrouped or
    * grouped by PARTITION columns (whose values are directory
    * constants). Spark only offers an aggregate when no filter remains
    * above the scan, so footer stats never meet a data filter.
    *
    * Pushdown degree: when the groupBy covers the partition columns
    * EXACTLY, every grouped input split carries ALL files of its group
    * — so the reader can fold them into one FINAL row per group and the
    * pushdown is COMPLETE: Spark plans no aggregate and no exchange on
    * top (round-10; the former partial rows shuffled |files| rows
    * because the pushdown Project's aliases defeat KeyGroupedPartitioning
    * propagation). Ungrouped aggregates stay PARTIAL — one row per
    * file-split, Spark's final aggregate merges — because a complete
    * ungrouped answer would serialize all footer IO into one split.
    */
  private def colName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        Some(nr.fieldNames.head)
      case _ => None
    }

  /** The output schema IF this aggregation is pushable: group
    * (partition) columns first, then aggregate fields — the V2 contract.
    */
  private def aggSchemaOf(aggregation: Aggregation): Option[StructType] = {
    val groupNames = aggregation.groupByExpressions.map(colName)
    if (groupNames.exists(n => n.isEmpty || !partCols(n.get))) return None
    val groupFields = groupNames.map(n =>
      tableSchema.find(_.name == n.get).get)
    val fields = aggregation.aggregateExpressions.map {
      case _: CountStar => Some(StructField("count_star", LongType, nullable = false))
      case m: Min => colName(m.column).filter(comparable)
        .map(n => StructField(s"min_$n", dataColType(n).get))
      case m: Max => colName(m.column).filter(comparable)
        .map(n => StructField(s"max_$n", dataColType(n).get))
      case _ => None
    }
    if (fields.exists(_.isEmpty)) None
    else Some(StructType(groupFields ++ fields.map(_.get)))
  }

  private def groupsByAllPartCols(aggregation: Aggregation): Boolean = {
    val names = aggregation.groupByExpressions.flatMap(colName)
    partColsOrdered.nonEmpty &&
      names.length == aggregation.groupByExpressions.length &&
      names.toSet == partCols && names.length == partColsOrdered.length
  }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    aggSchemaOf(aggregation).isDefined && groupsByAllPartCols(aggregation)

  override def pushAggregation(aggregation: Aggregation): Boolean =
    aggSchemaOf(aggregation) match {
      case Some(schema) =>
        agg = Some(aggregation)
        aggSchema = schema
        true
      case None => false
    }

  override def build(): Scan =
    new GraftIndexScan(path, tableSchema, required, pushedPart, hintData,
      partColsOrdered, agg, Option(aggSchema), limit, maxFilesPerTrigger,
      maxBytesPerTrigger, logRetention)
}

class GraftIndexScan(path: String, tableSchema: StructType,
    required: StructType, pushedPart: Array[Filter],
    hintData: Array[Filter], partColsOrdered: Seq[String],
    agg: Option[Aggregation], aggSchema: Option[StructType],
    limit: Option[Int] = None,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    logRetention: String = "all")
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with SupportsReportPartitioning {

  private val partCols = partColsOrdered.toSet
  @volatile private var runtime: Array[Filter] = Array.empty

  override def readSchema(): StructType = aggSchema.getOrElse(required)
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-index $path, pushedPartitionFilters=[${pushedPart.mkString(", ")}], " +
      s"dataFilterHints=[${hintData.mkString(", ")}], " +
      s"pushedAggregation=[${agg.map(_.aggregateExpressions.mkString(", ")).getOrElse("")}]"

  // ---- partition pruning ---------------------------------------------
  private def partType(name: String): DataType =
    tableSchema.find(_.name == name).map(_.dataType).getOrElse(StringType)

  /** Directory value → typed partition value. Hive's default-partition
    * sentinel and values that don't parse as the inferred type become
    * NULL (matching spark.read.parquet over the same layout) instead of
    * throwing at planning time and failing every query over the table.
    */
  private def parse(raw: String, dt: DataType): Any =
    if (raw == GraftIndexTable.HiveDefaultPartition) null
    else try {
      dt match {
        case LongType => raw.toLong
        case IntegerType => raw.toInt
        case DoubleType => raw.toDouble
        case FloatType => raw.toFloat
        case BooleanType => raw.toBoolean
        // DATE partition values (round-12): the directory string is the
        // zero-padded ISO form Spark's writers emit; internal form is
        // the epoch-day Int — same representation parquet DATE stores
        case DateType => java.time.LocalDate.parse(raw).toEpochDay.toInt
        case _ => raw
      }
    } catch {
      case _: IllegalArgumentException | _: java.time.DateTimeException => null
    }

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    // DATE comparands arrive as java.sql.Date or LocalDate depending on
    // the session's java8API setting; the stored side is epoch-day Int
    case (x: Int, y: java.sql.Date) =>
      java.lang.Long.compare(x.toLong, GraftIndexDate.toDays(y).toLong)
    case (x: Int, y: java.time.LocalDate) =>
      java.lang.Long.compare(x.toLong, y.toEpochDay)
    case (x: Long, y: Number) => java.lang.Long.compare(x, y.longValue)
    case (x: Int, y: Number) => java.lang.Long.compare(x.toLong, y.longValue)
    case (x: Double, y: Number) => java.lang.Double.compare(x, y.doubleValue)
    case (x: Float, y: Number) => java.lang.Double.compare(x.toDouble, y.doubleValue)
    case (x, y) => x.toString.compareTo(y.toString)
  }

  /** Exact SQL semantics over possibly-NULL partition values: a null
    * value (or a null comparand a runtime filter might carry) matches
    * nothing except IS NULL / `<=> NULL`. Claimed partition filters are
    * never re-evaluated by Spark, so this must be exact, not heuristic.
    */
  private def eval(f: Filter, parts: Map[String, Any]): Boolean = {
    def nonNull(a: String): Option[Any] = parts.get(a).filter(_ != null)
    f match {
      case EqualTo(a, v) => v != null && nonNull(a).exists(cmp(_, v) == 0)
      case EqualNullSafe(a, v) =>
        if (v == null) parts.contains(a) && parts(a) == null
        else nonNull(a).exists(cmp(_, v) == 0)
      case In(a, vs) => vs != null &&
        nonNull(a).exists(x => vs.exists(v => v != null && cmp(x, v) == 0))
      case IsNotNull(a) => nonNull(a).nonEmpty
      case IsNull(a) => parts.contains(a) && parts(a) == null
      case GreaterThan(a, v) => v != null && nonNull(a).exists(cmp(_, v) > 0)
      case GreaterThanOrEqual(a, v) => v != null && nonNull(a).exists(cmp(_, v) >= 0)
      case LessThan(a, v) => v != null && nonNull(a).exists(cmp(_, v) < 0)
      case LessThanOrEqual(a, v) => v != null && nonNull(a).exists(cmp(_, v) <= 0)
      // `<>` / NOT IN / string predicates: a null value (or null
      // comparand) matches nothing — SQL's unknown→false, the same
      // mapping as every claimed leaf
      case Not(EqualTo(a, v)) => v != null && nonNull(a).exists(cmp(_, v) != 0)
      case Not(In(a, vs)) => vs != null && vs.nonEmpty && vs.forall(_ != null) &&
        nonNull(a).exists(x => vs.forall(cmp(x, _) != 0))
      case StringStartsWith(a, v) =>
        v != null && nonNull(a).exists(_.toString.startsWith(v))
      case StringEndsWith(a, v) =>
        v != null && nonNull(a).exists(_.toString.endsWith(v))
      case StringContains(a, v) =>
        v != null && nonNull(a).exists(_.toString.contains(v))
      // negation-free compounds: unknown→false per leg, exact through
      // the monotone lattice (claimed only for pushable legs; an
      // unknown RUNTIME shape inside a compound keeps the partition)
      case Or(l, r) => eval(l, parts) || eval(r, parts)
      case And(l, r) => eval(l, parts) && eval(r, parts)
      case _ => true // unknown runtime shape: keep the partition (safe)
    }
  }

  /** ONE directory walk for the life of the scan: the optimizer asks
    * for statistics repeatedly during join planning and a multi-job
    * query (localCheckpoint rounds) re-plans input partitions per
    * materialization — re-walking a many-hundred-directory index each
    * time dominated the probe's driver time (measured ~40% of the whole
    * graph probe before caching). Spark's own InMemoryFileIndex makes
    * the same listing-snapshot-per-scan assumption. Runtime filters
    * arrive AFTER the walk and only re-filter the cached listing.
    */
  private lazy val listedFiles: Seq[(String, Long, Map[String, Any])] =
    GraftIndexTable.listFiles(path).map { case (f, len, raw) =>
      (f, len, raw.map { case (k, v) => k -> parse(v, partType(k)) })
    }

  private def selectedFiles: Seq[(String, Long, Map[String, Any])] = {
    val filters = pushedPart ++ runtime
    listedFiles.filter { case (_, _, parts) => filters.forall(eval(_, parts)) }
  }

  // ---- runtime filtering (the V2 form of dynamic partition pruning) --
  // only partition columns surviving column pruning are advertised:
  // PartitionPruning resolves these against the scan OUTPUT, so naming
  // a pruned-away column breaks analysis of any join over the relation
  override def filterAttributes(): Array[NamedReference] =
    partColsOrdered.filter(c => readSchema().fieldNames.contains(c))
      .map(Expressions.column).toArray
  override def filter(filters: Array[Filter]): Unit = { runtime = filters }

  // ---- statistics (post-pruning: what the probe actually reads) ------
  override def estimateStatistics(): Statistics = new Statistics {
    private val files = selectedFiles
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(math.max(1L, files.map(_._2).sum))
    override def numRows(): OptionalLong = OptionalLong.empty()
  }

  // ---- partition reporting --------------------------------------------
  // key-grouped planning (one split per partition directory, each
  // carrying its key as KeyGroupedPartitioning) is taken when it can
  // PAY: a complete pushed aggregate (per-group splits are the
  // correctness contract — the reader folds each group to one FINAL
  // row), or a plain read under storage-partitioned-join mode
  // (spark.sql.sources.v2.bucketing.enabled), where cell-clustered
  // plans skip the exchange. Otherwise Spark ignores the reported
  // partitioning entirely, and one split per directory just multiplies
  // task overhead (round-11: 81 tiny-cell tasks ran 3 waves where
  // spark.read.parquet ran one) — so plain reads bin-pack files into
  // Spark-sized splits instead, with per-file partition constants.
  private lazy val bucketingOn: Boolean =
    SparkSession.active.sessionState.conf.getConfString(
      "spark.sql.sources.v2.bucketing.enabled", "false").toBoolean

  private def aggGroupsByAllPartCols: Boolean = agg.exists { a =>
    val names = a.groupByExpressions.flatMap {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        Some(nr.fieldNames.head)
      case _ => None
    }
    names.toSet == partCols && names.length == partColsOrdered.length
  }

  private def grouped: Boolean = partColsOrdered.nonEmpty &&
    (if (agg.nonEmpty) aggGroupsByAllPartCols else bucketingOn)

  override def outputPartitioning(): Partitioning =
    if (grouped) {
      new KeyGroupedPartitioning(
        partColsOrdered.map(c => Expressions.identity(c)).toArray,
        planInputPartitions().length)
    } else new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)

  private def packFiles(
      files: Seq[(String, Long, Map[String, Any])]): Array[InputPartition] = {
    val conf = SparkSession.active.sessionState.conf
    GraftIndexScan.binPack(files, conf.filesOpenCostInBytes,
      conf.filesMaxPartitionBytes,
      SparkSession.active.sparkContext.defaultParallelism,
      partColsOrdered.map(c => c -> partType(c)))
  }

  // ---- execution ------------------------------------------------------
  override def planInputPartitions(): Array[InputPartition] = {
    val files = selectedFiles
    val typedPartOrder = partColsOrdered.map(c => c -> partType(c))
    if (agg.nonEmpty && !grouped) {
      // Partial (ungrouped) pushdown packs ~core-count splits: the
      // footer-agg reader already folds every file of a split into ONE
      // partial row, and a zero-IO footer fold is pure task overhead —
      // one split per FILE (round-12's plan) ran 40 tasks where the
      // equivalent parquet decode ran 28 on the tiny-file fixture, and
      // the scheduling delta WAS the measured count-shape gap. Only
      // when the partial row carries partition columns (an agg grouped
      // by a partition-column subset) must splits stay same-partition.
      val aggUsesParts =
        aggSchema.exists(_.fields.exists(f => partCols(f.name)))
      if (!aggUsesParts) {
        val par = math.max(1,
          SparkSession.active.sparkContext.defaultParallelism)
        val per = math.max(1, (files.size + par - 1) / par)
        files.map(_._1).sorted.grouped(per).map(fs =>
          GraftIndexInputPartition(fs, Map.empty,
            Seq.empty): InputPartition).toArray
      } else {
        files.groupBy(_._3).toSeq
          .sortBy(_._1.toSeq.sortBy(_._1)
            .map(kv => String.valueOf(kv._2)).mkString("/"))
          .map { case (parts, fs) =>
            GraftIndexInputPartition(fs.map(_._1).sorted, parts,
              typedPartOrder): InputPartition
          }.toArray
      }
    } else if (grouped) {
      files.groupBy(_._3).toSeq
        .sortBy(_._1.toSeq.sortBy(_._1).map(kv => String.valueOf(kv._2)).mkString("/"))
        .map { case (parts, fs) =>
          GraftIndexInputPartition(fs.map(_._1).sorted, parts,
            typedPartOrder): InputPartition
        }.toArray
    } else {
      packFiles(files)
    }
  }

  /** STREAMING read face (round-11, offset compacted round-12): a
    * MicroBatchStream over the table's file population — each trigger's
    * batch is the set of data files not yet emitted, so an index with an
    * append lifecycle (vecs/cells admissions via appendToIvfIndex/
    * appendToGraphIndex) streams its admissions in arrival order.
    * Contract notes:
    *  - APPEND-ONLY sub-tables only: a dynamically-overwritten table
    *    (edges) re-emits the rewritten partitions' files as fresh
    *    batches — by design those are the re-admitted rows, but
    *    exactly-once row delivery is only guaranteed where files are
    *    immutable once written.
    *  - The OFFSET is a POSITION in a checkpoint-local admission log
    *    (round-12; see [[GraftIndexMicroBatchStream]]) — O(1) bytes
    *    regardless of how many files the stream has ever admitted. The
    *    round-11 full-file-list offset serialized O(total files) JSON
    *    into EVERY checkpoint commit and diffed it per trigger — on a
    *    long-lived 100 TB index the offset itself became the
    *    bottleneck. Legacy list offsets still deserialize (v1
    *    checkpoints restart cleanly).
    *  - Pushdown stays honored: partition filters gate which files
    *    enter offsets, data-filter hints ride the same reader factory as
    *    the batch read.
    *  - ADMISSION CONTROL (round-11, [[SupportsAdmissionControl]] +
    *    [[SupportsTriggerAvailableNow]]): `maxFilesPerTrigger` /
    *    `maxBytesPerTrigger` read options cap each micro-batch at N
    *    files / ~N bytes (always at least one file, so an oversized
    *    file still makes progress) — without a cap, a restart against
    *    a long-lived index would replay the ENTIRE backlog as one
    *    giant batch, the exact failure mode rate limits exist for at
    *    100 TB. Trigger.AvailableNow snapshots the listing up front
    *    and drains exactly that snapshot in capped batches, then
    *    stops — late admissions wait for the next run.
    */
  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    /** Admitted data files (path, size), sorted by path — the sort
      * makes per-trigger caps deterministic in arrival-then-name
      * order and log-entry contents stable.
      */
    def admitted(): Seq[(String, Long)] = {
      val filters = pushedPart // partition filters gate admission
      GraftIndexTable.listFiles(path)
        .map { case (f, len, raw) =>
          (f, len, raw.map { case (k, v) => k -> parse(v, partType(k)) })
        }
        .filter { case (_, _, parts) => filters.forall(eval(_, parts)) }
        .map(t => (t._1, t._2)).sortBy(_._1)
    }
    /** Partition values re-derived from the file PATH (its name=value
      * segments), so planning a committed range never needs the
      * directory to still list the same way it did at offset time.
      */
    def partValuesOf(file: String): Map[String, Any] =
      file.split('/').collect {
        case GraftIndexTable.PartDirRx(name, value) =>
          name -> parse(value, partType(name))
      }.toMap
    new GraftIndexMicroBatchStream(path, checkpointLocation,
      () => admitted(), partValuesOf,
      partColsOrdered.map(c => c -> partType(c)),
      maxFilesPerTrigger, maxBytesPerTrigger, logRetention == "committed",
      () => {
        val conf = SparkSession.active.sparkContext.broadcast(
          new SerializableConfiguration(GraftIndexTable.activeHadoopConf()))
        new GraftIndexReaderFactory(readSchema(),
          readSchema().fields.map(f => constCol(f.name)),
          hintData, tableSchema, limit, conf)
      })
  }

  /** Columns the readers fill as per-file CONSTANTS (never decoded):
    * partition values from the directory chain, and the `_file` lineage
    * metadata column — unless the table carries a REAL column of that
    * name, in which case Spark never routes the metadata request here
    * and the field must decode normally.
    */
  private def constCol(name: String): Boolean =
    partCols.contains(name) || (name == GraftIndexTable.FileCol &&
      !tableSchema.fieldNames.contains(name))

  override def createReaderFactory(): PartitionReaderFactory = {
    val schema = readSchema()
    // the DRIVER's Hadoop configuration, BROADCAST to executors:
    // executor-side opens must see the same fs credentials/overrides the
    // planning-time listing saw (a bare `new Configuration()` silently
    // drops spark.hadoop.* and reads the wrong filesystem off-local).
    // Broadcast, not embedded: a Configuration deserializes by parsing
    // ~100 KB of XML, and embedding it in the factory re-paid that on
    // EVERY task — measured at ~45 ms/task, 67% of total task time on a
    // many-small-partition index scan (round-11); the broadcast
    // deserializes once per executor JVM, like Spark's own file scans
    val conf = SparkSession.active.sparkContext.broadcast(
      new SerializableConfiguration(GraftIndexTable.activeHadoopConf()))
    agg match {
      case Some(a) => new GraftIndexAggReaderFactory(a, aggSchema.get,
        aggSchema.get.fields.map(f => partCols.contains(f.name)), conf)
      case None => new GraftIndexReaderFactory(schema,
        schema.fields.map(f => constCol(f.name)),
        hintData, tableSchema, limit, conf)
    }
  }
}

object GraftIndexScan {
  /** Spark's own file-split sizing, as a pure function (unit-pinned at
    * 100 TB shapes by GraftIndexSourceSpec): bins close at
    * min(maxPartitionBytes, max(openCost, total/parallelism)); a file
    * LARGER than that is first sliced into byte ranges of that size
    * (round-12 — parquet files are splittable, and Spark's own scans
    * split them; a mounted big-file dataset previously planned one
    * whole-file task per 1 GB file, an 8× parallelism loss at 128 MB
    * maxPartitionBytes); slices then pack largest-first, each costed
    * at size + openCost. Row-group assignment per slice follows the
    * midpoint rule every parquet engine uses, so each row group
    * belongs to exactly one slice and a sliced read is a partition of
    * the file's rows.
    */
  private[graft] def binPack(files: Seq[(String, Long, Map[String, Any])],
      openCost: Long, maxBytes: Long, parallelism: Int,
      typedPartOrder: Seq[(String, DataType)]): Array[InputPartition] = {
    val totalBytes = files.map(_._2 + openCost).sum
    // clamp ≥ 1: openCostInBytes=0 with parallelism > totalBytes would
    // compute 0 and turn the slice range's step into a crash
    val maxSplit = math.max(1L, math.min(maxBytes,
      math.max(openCost, totalBytes / math.max(1, parallelism))))
    // slice big files into [start, start+len) ranges of maxSplit
    val slices: Seq[(String, Long, Long, Map[String, Any])] =
      files.flatMap { case (f, len, parts) =>
        if (len <= maxSplit) Seq((f, 0L, GraftIndexRange.Whole, parts))
        else (0L until len by maxSplit).map(off =>
          (f, off, math.min(maxSplit, len - off), parts))
      }
    def costOf(len: Long, fileLen: Long): Long =
      (if (len == GraftIndexRange.Whole) fileLen else len) + openCost
    val lenOf = files.map(f => f._1 -> f._2).toMap
    val splits = scala.collection.mutable.ArrayBuffer[InputPartition]()
    val cur = scala.collection.mutable.ArrayBuffer[(String, Long, Long, Map[String, Any])]()
    var curBytes = 0L
    def closeSplit(): Unit = if (cur.nonEmpty) {
      splits += GraftIndexPackedPartition(cur.toSeq, typedPartOrder)
      cur.clear(); curBytes = 0L
    }
    // Spark's exact close rule (FilePartition.getFilePartitions): a bin
    // closes when the accumulated cost plus the next slice's DATA bytes
    // would pass maxSplit; the openCost joins the accumulator only
    // after admission. Testing `accumulated + len + openCost` instead
    // (round-12's rule) closed tiny-file bins one file early — on an
    // index-cell table (~100 KB files, 4 MB openCost) that planned ~2×
    // Spark's task count, and the per-task overhead WAS the measured
    // full-projection gap to the parquet twin (41 vs 28 tasks at
    // identical ms/task).
    slices.sortBy(s => (-costOf(s._3, lenOf(s._1)), s._1, s._2))
      .foreach { case (f, start, len, parts) =>
        val dataLen = if (len == GraftIndexRange.Whole) lenOf(f) else len
        if (cur.nonEmpty && curBytes + dataLen > maxSplit) closeSplit()
        cur += ((f, start, len, parts)); curBytes += dataLen + openCost
      }
    closeSplit()
    splits.toArray
  }
}

/** Byte-range helpers for within-file splits (round-12). A slice is
  * (start, len) with `len == Whole` meaning the entire file; a row
  * group belongs to the slice containing its MIDPOINT — the rule
  * parquet-mr's own range filtering and Spark's scans use, so slices
  * partition a file's rows exactly.
  */
object GraftIndexRange {
  val Whole: Long = Long.MaxValue

  def endOf(start: Long, len: Long): Long =
    if (len == Whole) Long.MaxValue else start + len

  def blockIn(b: org.apache.parquet.hadoop.metadata.BlockMetaData,
      start: Long, len: Long): Boolean = {
    val mid = b.getStartingPos + b.getCompressedSize / 2
    mid >= start && mid < endOf(start, len)
  }

  def blocksIn(footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      start: Long, len: Long): java.util.List[org.apache.parquet.hadoop.metadata.BlockMetaData] =
    if (len == Whole && start == 0L) footer.getBlocks
    else {
      val out = new java.util.ArrayList[org.apache.parquet.hadoop.metadata.BlockMetaData]()
      val it = footer.getBlocks.iterator()
      while (it.hasNext) {
        val b = it.next()
        if (blockIn(b, start, len)) out.add(b)
      }
      out
    }

  /** Row count of the slice, from the cached footer — zero data IO. */
  def rows(file: String, conf: Configuration, start: Long, len: Long): Long = {
    if (len == Whole && start == 0L)
      return GraftFooterCache.recordCount(file, conf)
    val blocks = blocksIn(GraftFooterCache.footer(file, conf), start, len)
    var n = 0L
    var i = 0
    while (i < blocks.size()) { n += blocks.get(i).getRowCount; i += 1 }
    n
  }
}

case class GraftIndexInputPartition(files: Seq[String],
    partValues: Map[String, Any], partOrder: Seq[(String, DataType)])
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = {
    val row = new GenericInternalRow(partOrder.length)
    partOrder.zipWithIndex.foreach { case ((c, dt), i) =>
      // typed per the table schema so key rows match the reported
      // KeyGroupedPartitioning expressions; null = Hive default partition
      row.update(i, GraftIndexReaderFactory.toInternal(partValues(c), dt))
    }
    row
  }
}

/** Bin-packed split for plain (non-key-grouped) reads: entries are
  * byte-range SLICES (path, start, len, partition values) — len =
  * [[GraftIndexRange.Whole]] means the entire file. Files may span
  * DIFFERENT partition directories, so each slice carries its own
  * partition values — the readers swap the partition-constant row per
  * slice.
  */
case class GraftIndexPackedPartition(
    files: Seq[(String, Long, Long, Map[String, Any])],
    partOrder: Seq[(String, DataType)]) extends InputPartition

/** LEGACY (v1, round-11) streaming offset: the SORTED data-file list
  * seen so far, as a JSON string array — O(total files) serialized into
  * every checkpoint commit, which is exactly why round-12 replaced it
  * with [[GraftIndexLogOffset]]. Kept for two jobs: deserializing v1
  * checkpoints (a restart against an old WAL migrates seamlessly — its
  * file list becomes the base seen-set), and as the hostile-path-safe
  * JSON array codec the admission log's entries reuse.
  */
case class GraftIndexStreamOffset(files: Seq[String])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    files.sorted.map(f =>
      "\"" + f.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("[", ",", "]")
}

/** Streaming offset of the graft-index MicroBatchStream (v2, round-12):
  * a POSITION in the checkpoint-local admission log — `seq` = number of
  * log entries covered. O(1) bytes in the total file population: the
  * log entry holds the file list, the offset only points at it, so a
  * year of checkpoints against a 100 TB index stays flat where the v1
  * list offset grew without bound. Case-class equality agrees with json
  * equality, so an unchanged log position plans no batch.
  */
case class GraftIndexLogOffset(seq: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"v":2,"seq":$seq}"""
}

object GraftIndexLogOffset {
  private val Rx = """\s*\{\s*"v"\s*:\s*2\s*,\s*"seq"\s*:\s*(\d+)\s*\}\s*""".r
  def fromJson(json: String): Option[GraftIndexLogOffset] = json match {
    case Rx(n) => Some(GraftIndexLogOffset(n.toLong))
    case _ => None
  }
}

/** Telemetry-only frontier ([[GraftIndexMicroBatchStream.reportLatestOffset]]):
  * the current log position plus how many admitted files await logging.
  * Surfaces in StreamingQueryProgress as the source's latestOffset; the
  * engine never deserializes it for planning.
  */
case class GraftIndexStreamFrontier(seq: Long, pendingFiles: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    s"""{"v":2,"seq":$seq,"pendingFiles":$pendingFiles}"""
}

/** The graft-index streaming face (named class round-12, when the
  * offset moved behind a metadata log). Mechanics, FileStreamSource-
  * style:
  *
  *  - `<checkpoint>/graft-admitted/<seq>` holds the file list each
  *    micro-batch admitted (the v1 offset codec — hostile-path-safe
  *    JSON), written ATOMICALLY (temp + rename) by latestOffset BEFORE
  *    the offset naming it can reach the WAL. The offset is just the
  *    entry number.
  *  - Restart: the cumulative seen-set rebuilds by folding the log once
  *    (O(total files) ONCE per restart, not per commit); entries logged
  *    but never committed (a crash between log write and WAL write)
  *    replay one entry per trigger — same files, deterministically,
  *    because planning reads the entry, never the live listing.
  *  - A v1 (file-list) start offset from an old checkpoint acts as a
  *    base seen-set under log position 0 — the stream migrates to log
  *    offsets on its first new admission.
  *  - Per-trigger work: ONE directory listing, computed in latestOffset
  *    and reused by reportLatestOffset (round-11 ADVICE: the telemetry
  *    path re-walked the directory every trigger), diffed against the
  *    in-memory seen-set (maintained incrementally, not rebuilt per
  *    trigger).
  */
class GraftIndexMicroBatchStream(
    path: String,
    checkpointLocation: String,
    admitted: () => Seq[(String, Long)],
    partValuesOf: String => Map[String, Any],
    typedPartOrder: Seq[(String, DataType)],
    maxFilesPerTrigger: Option[Int],
    maxBytesPerTrigger: Option[Long],
    retainCommittedOnly: Boolean,
    readerFactory: () => PartitionReaderFactory)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, Offset, ReadLimit, ReadMaxBytes, ReadMaxFiles}

  private val logDir = new Path(checkpointLocation, "graft-admitted")
  private def fs = logDir.getFileSystem(GraftIndexTable.activeHadoopConf())

  private[graft] def ckptForTest: String = checkpointLocation

  // ---- admission log ---------------------------------------------------
  /** Highest entry number on disk, listed ONCE per stream instance —
    * only this instance appends afterwards (Spark runs one driver-side
    * stream per source), so the in-memory counter stays authoritative.
    */
  private lazy val initialMaxSeq: Long = {
    // compact snapshots count: after the retention janitor folds and
    // deletes every committed entry, a fully-drained log is just
    // `<seq>.compact` — restarting at 0 would admit a lower offset than
    // the WAL already holds
    if (!fs.exists(logDir)) 0L
    else fs.listStatus(logDir).flatMap(s => seqOfName(s.getPath.getName))
      .foldLeft(0L)(math.max)
  }

  /** Entry or snapshot name → its log position (None for `.tmp`,
    * `0.base`, and anything else).
    */
  private def seqOfName(n: String): Option[Long] =
    n.toLongOption.orElse(
      if (n.endsWith(".compact")) n.stripSuffix(".compact").toLongOption
      else None)
  private var maxSeqState: Long = -1L
  private def maxSeq: Long = {
    if (maxSeqState < 0) maxSeqState = initialMaxSeq
    maxSeqState
  }

  private def entryPath(seq: Long) = new Path(logDir, seq.toString)

  /** Entry reads actually performed — the restart-cost spec's probe. */
  private[graft] val entryReads = new java.util.concurrent.atomic.AtomicLong

  private def readList(p: Path): Seq[String] = {
    val in = fs.open(p)
    val text = try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
    GraftIndexStreamOffset.fromJson(text).files
  }

  private def writeList(p: Path, files: Iterable[String]): Unit = {
    fs.mkdirs(logDir)
    val tmp = new Path(logDir, s".${p.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(GraftIndexStreamOffset(files.toSeq).json()
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    require(fs.rename(tmp, p),
      s"graft-index: failed to write admission-log file $p")
  }

  private def readEntry(seq: Long): Seq[String] = {
    entryReads.incrementAndGet()
    readList(entryPath(seq))
  }

  /** Every CompactEvery-th entry also writes a `<seq>.compact` snapshot
    * of the cumulative file set, so a restart's seen-set fold reads one
    * snapshot + the recent entries instead of the whole log — per-entry
    * files are RETAINED (they are what committed ranges replan from);
    * the snapshot only accelerates the fold.
    */
  private val CompactEvery = 16L
  private def compactPath(seq: Long) = new Path(logDir, s"$seq.compact")

  private def writeEntry(seq: Long, files: Seq[String]): Unit = {
    writeList(entryPath(seq), files)
    if (seq % CompactEvery == 0) {
      // seenFiles is loaded through seq-1 here (latestOffset folds
      // before admitting), so the snapshot is exact
      writeList(compactPath(seq), seenFiles ++ files)
    }
  }

  /** Cumulative seen-set: files in entries 1..loadedSeq, extended
    * incrementally. A restart folds the newest compact snapshot ≤ the
    * target, then only the entries past it — O(recent), not O(log).
    */
  private var loadedSeq = 0L
  private val seenFiles = scala.collection.mutable.HashSet[String]()
  private def loadThrough(seq: Long): Unit = {
    if (loadedSeq == 0 && seq > 0) {
      // newest snapshot ≤ seq, found by ONE listing (was an exists-probe
      // walk over CompactEvery multiples — the retention janitor also
      // writes snapshots at commit seqs, which land on arbitrary
      // positions, and after it deletes folded entries the snapshot is
      // the only source for them)
      val snaps =
        if (!fs.exists(logDir)) Array.empty[Long]
        else fs.listStatus(logDir).map(_.getPath.getName)
          .filter(_.endsWith(".compact"))
          .flatMap(_.stripSuffix(".compact").toLongOption)
          .filter(_ <= seq)
      if (snaps.nonEmpty) {
        val s = snaps.max
        seenFiles ++= readList(compactPath(s))
        loadedSeq = s
      }
    }
    while (loadedSeq < seq) {
      loadedSeq += 1
      seenFiles ++= readEntry(loadedSeq)
    }
  }

  /** v1 (round-11 file-list) start offsets act as a base seen-set —
    * persisted as `0.base` the first time one is seen, so the
    * migration survives a LATER restart whose WAL start is already a
    * v2 log offset (the v1 list would otherwise exist nowhere and its
    * files would re-admit).
    */
  @volatile private var v1Seen: Set[String] = Set.empty
  private lazy val basePath = new Path(logDir, "0.base")
  @volatile private var baseChecked = false
  private def ensureBaseLoaded(): Unit = if (!baseChecked) {
    baseChecked = true
    if (fs.exists(basePath)) v1Seen = v1Seen ++ readList(basePath)
  }
  private def seqOf(o: Offset): Long = o match {
    case GraftIndexLogOffset(s) => s
    case GraftIndexStreamOffset(files) =>
      v1Seen = v1Seen ++ files // migrating from a v1 checkpoint
      if (!fs.exists(basePath)) writeList(basePath, files)
      0L
    case other => throw new IllegalStateException(
      s"graft-index: unexpected stream offset $other")
  }

  /** Files covered by entries (fromSeq, toSeq], sorted. Test hook +
    * planning primitive.
    */
  private[graft] def filesBetween(fromSeq: Long, toSeq: Long): Seq[String] =
    ((fromSeq + 1) to toSeq).flatMap(readEntry).sorted

  /** All files an offset covers (entries 1..seq, or the v1 list). */
  private[graft] def filesThrough(o: Offset): Seq[String] = o match {
    case GraftIndexLogOffset(s) => filesBetween(0L, s)
    case GraftIndexStreamOffset(files) => files.sorted
    case other => throw new IllegalStateException(s"unexpected offset $other")
  }

  // ---- admission control ----------------------------------------------
  /** Trigger.AvailableNow contract: every latestOffset call of this
    * run sees the SAME listing, taken here — the run drains exactly
    * this snapshot and terminates even while admissions keep landing.
    */
  @volatile private var availableNowSnapshot: Option[Seq[(String, Long)]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowSnapshot = Some(admitted())

  override def getDefaultReadLimit: ReadLimit = {
    val lims = maxFilesPerTrigger.map(ReadLimit.maxFiles).toSeq ++
      maxBytesPerTrigger.map(ReadLimit.maxBytes)
    lims match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** Longest prefix of `fresh` within the limit. maxBytes admits
    * files while the running total fits, but always at least one
    * (FileStreamSource semantics: an oversized file must not wedge
    * the stream). Composite limits intersect to the most
    * restrictive prefix.
    */
  private def cap(fresh: Seq[(String, Long)],
      limit: ReadLimit): Seq[(String, Long)] = limit match {
    case mf: ReadMaxFiles => fresh.take(mf.maxFiles)
    case mb: ReadMaxBytes =>
      val cum = fresh.scanLeft(0L)(_ + _._2).tail
      val n = cum.indexWhere(_ > mb.maxBytes()) match {
        case -1 => fresh.length
        case 0 => 1
        case i => i
      }
      fresh.take(n)
    case c: CompositeReadLimit => c.getReadLimits.foldLeft(fresh)(cap)
    case _ => fresh // ReadAllAvailable / ReadMinRows: everything
  }

  /** The trigger's ONE listing, shared with reportLatestOffset. */
  @volatile private var lastListing: Seq[(String, Long)] = null

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startSeq = seqOf(start)
    ensureBaseLoaded()
    // crash recovery: entries logged but not yet in the WAL replay
    // AS LOGGED, one per trigger — same files, same caps as when they
    // were admitted, no re-listing
    if (maxSeq > startSeq) return GraftIndexLogOffset(startSeq + 1)
    val all = availableNowSnapshot.getOrElse(admitted())
    lastListing = all
    loadThrough(maxSeq)
    val taken = cap(all.filterNot(f =>
      seenFiles(f._1) || v1Seen(f._1)), limit)
    if (taken.isEmpty) start // equal offsets → no batch planned
    else {
      val next = maxSeq + 1
      writeEntry(next, taken.map(_._1))
      maxSeqState = next
      GraftIndexLogOffset(next)
    }
  }

  /** Progress telemetry only: the log position plus the uncapped
    * backlog, measured on the SAME listing latestOffset took this
    * trigger (round-11 ADVICE: a second full directory walk per
    * trigger, purely for telemetry).
    */
  override def reportLatestOffset(): Offset = {
    val listing = lastListing match {
      case null => val l = admitted(); lastListing = l; l
      case l => l
    }
    ensureBaseLoaded()
    loadThrough(maxSeq)
    val pending = listing.count(f => !seenFiles(f._1) && !v1Seen(f._1))
    GraftIndexStreamFrontier(maxSeq, pending)
  }

  override def initialOffset(): Offset = GraftIndexLogOffset(0)
  // legacy single-arg form — the engine calls the
  // SupportsAdmissionControl overload; kept total (uncapped, from the
  // current log position) as a safety net rather than throwing
  override def latestOffset(): Offset =
    latestOffset(GraftIndexLogOffset(maxSeq), ReadLimit.allAvailable())
  override def deserializeOffset(json: String): Offset =
    if (json.trim.startsWith("["))
      GraftIndexStreamOffset.fromJson(json) // v1 checkpoint
    else GraftIndexLogOffset.fromJson(json).getOrElse(
      throw new IllegalStateException(
        s"graft-index: unparseable stream offset: $json"))
  /** Retention janitor (round-13, opt-in via
    * `.option("admissionLogRetention", "committed")`). Entry files are
    * what committed ranges replan from, so by default they are retained
    * forever — but an entry at or below the newest COMMITTED offset can
    * never be replanned (Spark restarts at the last commit), and on a
    * year-lived stream the log directory itself becomes an
    * O(admissions) listing. On each commit: fold entries 1..committed
    * into a `<committed>.compact` snapshot (the restart seen-set fold
    * already prefers the newest snapshot), then delete the folded
    * entries and the older, now-redundant snapshots. Entries PAST the
    * committed offset — the only ones a restart replans — are never
    * touched, and neither is the v1-migration `0.base`.
    */
  private var janitorSeq = 0L
  override def commit(end: Offset): Unit = if (retainCommittedOnly) {
    val s = seqOf(end)
    if (s > janitorSeq) {
      // snapshot at the seen-set's position (≥ s after the fold —
      // loadedSeq usually already runs one entry ahead of the commit):
      // a snapshot is valid at ANY position, it just says "the union
      // of entries 1..here", and the restart fold always starts from
      // the newest one ≤ its target (= maxSeq ≥ this)
      loadThrough(s)
      val snapSeq = loadedSeq
      if (!fs.exists(compactPath(snapSeq)))
        writeList(compactPath(snapSeq), seenFiles)
      fs.listStatus(logDir).foreach { st =>
        val n = st.getPath.getName
        val deletable = n.toLongOption.exists(_ <= s) ||
          (n.endsWith(".compact") &&
            n.stripSuffix(".compact").toLongOption.exists(_ < snapSeq))
        if (deletable) fs.delete(st.getPath, false)
      }
      janitorSeq = s
    }
  }
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val fresh = (start, end) match {
      case (s: GraftIndexLogOffset, e: GraftIndexLogOffset) =>
        filesBetween(s.seq, e.seq)
      case (s: GraftIndexStreamOffset, e: GraftIndexLogOffset) =>
        // v1 → v2 migrated range: entries never contain v1-seen files
        filesBetween(0L, e.seq).filterNot(s.files.toSet)
      case (s: GraftIndexStreamOffset, e: GraftIndexStreamOffset) =>
        // legacy replan of a fully-v1 committed range: set difference
        e.files.filterNot(s.files.toSet).sorted
      case other => throw new IllegalStateException(
        s"graft-index: unplannable offset range $other")
    }
    if (fresh.isEmpty) return Array.empty
    // size-aware packing with within-file range slices (round-13): the
    // batch lane's binPack, so a big admitted file (a compaction output,
    // a mounted bulk load) splits into byte ranges exactly like Spark's
    // own parquet scans instead of wedging the whole batch behind one
    // task — readers already honor ranges via the row-group midpoint
    // rule, so slices partition the file's rows exactly. Index-sized
    // files keep whole-file packing (len ≤ effective split size).
    // Lengths come from one getFileStatus per fresh file; admitted files
    // are immutable, so a committed range replans to the same rows
    // regardless of when the status is taken.
    val sconf = SparkSession.active.sessionState.conf
    val dataFs = new Path(path).getFileSystem(
      GraftIndexTable.activeHadoopConf())
    GraftIndexScan.binPack(
      fresh.map(f => (f, dataFs.getFileStatus(new Path(f)).getLen,
        partValuesOf(f))),
      sconf.filesOpenCostInBytes, sconf.filesMaxPartitionBytes,
      math.max(1, SparkSession.active.sparkContext.defaultParallelism),
      typedPartOrder)
  }

  override def createReaderFactory(): PartitionReaderFactory = readerFactory()
}

object GraftIndexStreamOffset {
  /** Parse the json() form back (strings with \\ and \" escapes). */
  def fromJson(json: String): GraftIndexStreamOffset = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val sb = new StringBuilder
    var i = 0
    var inStr = false
    while (i < json.length) {
      val c = json.charAt(i)
      if (!inStr) {
        if (c == '"') { inStr = true; sb.clear() }
      } else c match {
        case '\\' =>
          require(i + 1 < json.length, s"dangling escape in offset: $json")
          sb.append(json.charAt(i + 1)); i += 1
        case '"' => inStr = false; out += sb.toString
        case other => sb.append(other)
      }
      i += 1
    }
    require(!inStr, s"unterminated string in offset json: $json")
    GraftIndexStreamOffset(out.toSeq)
  }
}

object GraftIndexFilters {

  /** Partially evaluate a hint filter for ONE file of an evolved set,
    * under the rule "a column the file lacks is NULL for every row":
    * Left(true) = the filter passes every row (drop the conjunct),
    * Left(false) = it drops every row (skip the file), Right(residual)
    * = still data-dependent, references only present columns. Flat
    * leaves reproduce the historical behavior (IsNull over an absent
    * column passes, anything else skips); compounds fold leg by leg —
    * without this, `Or(v > 5, IsNull(w))` with `w` absent would skip
    * rows whose `v > 5` leg matches.
    */
  def forFile(f: Filter, present: Set[String]): Either[Boolean, Filter] =
    f match {
      case f if f.references.forall(present) => Right(f)
      case IsNull(a) if !present(a) => Left(true)
      case And(l, r) => (forFile(l, present), forFile(r, present)) match {
        case (Left(false), _) | (_, Left(false)) => Left(false)
        case (Left(true), x) => x
        case (x, Left(true)) => x
        case (Right(a), Right(b)) => Right(And(a, b))
      }
      case Or(l, r) => (forFile(l, present), forFile(r, present)) match {
        case (Left(true), _) | (_, Left(true)) => Left(true)
        case (Left(false), x) => x
        case (x, Left(false)) => x
        case (Right(a), Right(b)) => Right(Or(a, b))
      }
      // any other hintable leaf over an absent (all-null) column matches
      // nothing: EqualTo/In/ranges/Not(EqualTo) need a non-null value,
      // IsNotNull fails
      case _ => Left(false)
    }

  /** Spark source Filter → parquet FilterPredicate for the hintable
    * shapes; types resolved from the table schema. `days` turns a DATE
    * comparand into the day count the file stores (a LEGACY-rebased
    * file stores Julian days).
    */
  def toParquet(f: Filter, schema: StructType,
      days: Any => Int = GraftIndexDate.toDays): FilterPredicate = {
    def dt(n: String) = schema.find(_.name == n).get.dataType
    def eq(n: String, v: Any): FilterPredicate = dt(n) match {
      case LongType => FilterApi.eq(FilterApi.longColumn(n),
        if (v == null) null else java.lang.Long.valueOf(v.asInstanceOf[Number].longValue))
      case IntegerType | ShortType | ByteType => FilterApi.eq(FilterApi.intColumn(n),
        if (v == null) null else java.lang.Integer.valueOf(v.asInstanceOf[Number].intValue))
      case DoubleType => FilterApi.eq(FilterApi.doubleColumn(n),
        if (v == null) null else java.lang.Double.valueOf(v.asInstanceOf[Number].doubleValue))
      case FloatType => FilterApi.eq(FilterApi.floatColumn(n),
        if (v == null) null else java.lang.Float.valueOf(v.asInstanceOf[Number].floatValue))
      case StringType => FilterApi.eq(FilterApi.binaryColumn(n),
        if (v == null) null else Binary.fromString(v.toString))
      // DATE is INT32 epoch days on both sides (round-12)
      case DateType => FilterApi.eq(FilterApi.intColumn(n),
        if (v == null) null
        else java.lang.Integer.valueOf(days(v)))
      case other => throw new IllegalStateException(s"eq over $other")
    }
    def notEqNull(n: String): FilterPredicate = dt(n) match {
      case LongType => FilterApi.notEq(FilterApi.longColumn(n), null.asInstanceOf[java.lang.Long])
      case IntegerType | ShortType | ByteType => FilterApi.notEq(FilterApi.intColumn(n), null.asInstanceOf[java.lang.Integer])
      case DoubleType => FilterApi.notEq(FilterApi.doubleColumn(n), null.asInstanceOf[java.lang.Double])
      case FloatType => FilterApi.notEq(FilterApi.floatColumn(n), null.asInstanceOf[java.lang.Float])
      case StringType => FilterApi.notEq(FilterApi.binaryColumn(n),
        null.asInstanceOf[Binary])
      case DateType => FilterApi.notEq(FilterApi.intColumn(n),
        null.asInstanceOf[java.lang.Integer])
      case other => throw new IllegalStateException(s"notEq over $other")
    }
    def notEq(n: String, v: Any): FilterPredicate = dt(n) match {
      case LongType => FilterApi.notEq(FilterApi.longColumn(n),
        java.lang.Long.valueOf(v.asInstanceOf[Number].longValue))
      case IntegerType | ShortType | ByteType => FilterApi.notEq(FilterApi.intColumn(n),
        java.lang.Integer.valueOf(v.asInstanceOf[Number].intValue))
      case DoubleType => FilterApi.notEq(FilterApi.doubleColumn(n),
        java.lang.Double.valueOf(v.asInstanceOf[Number].doubleValue))
      case FloatType => FilterApi.notEq(FilterApi.floatColumn(n),
        java.lang.Float.valueOf(v.asInstanceOf[Number].floatValue))
      case StringType => FilterApi.notEq(FilterApi.binaryColumn(n),
        Binary.fromString(v.toString))
      case DateType => FilterApi.notEq(FilterApi.intColumn(n),
        java.lang.Integer.valueOf(days(v)))
      case other => throw new IllegalStateException(s"notEq over $other")
    }
    def rel(n: String, v: Any,
        op: String): FilterPredicate = dt(n) match {
      case LongType =>
        val c = FilterApi.longColumn(n)
        val x = java.lang.Long.valueOf(v.asInstanceOf[Number].longValue)
        op match {
          case ">" => FilterApi.gt(c, x); case ">=" => FilterApi.gtEq(c, x)
          case "<" => FilterApi.lt(c, x); case _ => FilterApi.ltEq(c, x)
        }
      case IntegerType | ShortType | ByteType =>
        val c = FilterApi.intColumn(n)
        val x = java.lang.Integer.valueOf(v.asInstanceOf[Number].intValue)
        op match {
          case ">" => FilterApi.gt(c, x); case ">=" => FilterApi.gtEq(c, x)
          case "<" => FilterApi.lt(c, x); case _ => FilterApi.ltEq(c, x)
        }
      case DoubleType =>
        val c = FilterApi.doubleColumn(n)
        val x = java.lang.Double.valueOf(v.asInstanceOf[Number].doubleValue)
        op match {
          case ">" => FilterApi.gt(c, x); case ">=" => FilterApi.gtEq(c, x)
          case "<" => FilterApi.lt(c, x); case _ => FilterApi.ltEq(c, x)
        }
      case FloatType =>
        val c = FilterApi.floatColumn(n)
        val x = java.lang.Float.valueOf(v.asInstanceOf[Number].floatValue)
        op match {
          case ">" => FilterApi.gt(c, x); case ">=" => FilterApi.gtEq(c, x)
          case "<" => FilterApi.lt(c, x); case _ => FilterApi.ltEq(c, x)
        }
      case DateType =>
        val c = FilterApi.intColumn(n)
        val x = java.lang.Integer.valueOf(days(v))
        op match {
          case ">" => FilterApi.gt(c, x); case ">=" => FilterApi.gtEq(c, x)
          case "<" => FilterApi.lt(c, x); case _ => FilterApi.ltEq(c, x)
        }
      case other => throw new IllegalStateException(s"$op over $other")
    }
    // IN as parquet's native SET predicate (round-12): one hash-set
    // membership per record instead of an OR tree one node deep per
    // list element — a 10k-id serving IN list used to build a 10k-node
    // predicate tree (per-record visitor recursion AND stack depth
    // both O(list)); the set form is also what parquet's dictionary
    // pruning matches directly. Null semantics unchanged: in() never
    // matches null (eq-like).
    //
    // NOT IN deliberately does NOT use FilterApi.notIn: parquet-mr
    // 1.16's RECORD-LEVEL NotIn inspector is broken for sets with ≥2
    // values — its update() returns keep=true as soon as the value
    // differs from ANY set element (correct only for singletons), so a
    // notIn predicate would silently keep every non-null row (caught by
    // this repo's large-NOT-IN spec before it shipped). The old
    // And-of-notEq chain is no better at scale: a 5000-element NOT IN
    // builds a 5000-deep And tree and the record-level visitor
    // recursion overflows the task stack (also caught by the spec).
    // NOT IN instead rides [[GraftNotInSet]] — a UserDefinedPredicate
    // over the same hash set: exact keep (null never matches, SQL's
    // unknown→false by construction), one set lookup per record,
    // depth 1 however long the list.
    def inSet(n: String, vs: Array[Any]): FilterPredicate = dt(n) match {
      case LongType =>
        val s = new java.util.HashSet[java.lang.Long]()
        vs.foreach(v => s.add(v.asInstanceOf[Number].longValue))
        FilterApi.in(FilterApi.longColumn(n), s)
      case IntegerType | ShortType | ByteType =>
        val s = new java.util.HashSet[java.lang.Integer]()
        vs.foreach(v => s.add(v.asInstanceOf[Number].intValue))
        FilterApi.in(FilterApi.intColumn(n), s)
      case DoubleType =>
        val s = new java.util.HashSet[java.lang.Double]()
        vs.foreach(v => s.add(v.asInstanceOf[Number].doubleValue))
        FilterApi.in(FilterApi.doubleColumn(n), s)
      case FloatType =>
        val s = new java.util.HashSet[java.lang.Float]()
        vs.foreach(v => s.add(v.asInstanceOf[Number].floatValue))
        FilterApi.in(FilterApi.floatColumn(n), s)
      case StringType =>
        val s = new java.util.HashSet[Binary]()
        vs.foreach(v => s.add(Binary.fromString(v.toString)))
        FilterApi.in(FilterApi.binaryColumn(n), s)
      case DateType =>
        val s = new java.util.HashSet[java.lang.Integer]()
        vs.foreach(v => s.add(days(v)))
        FilterApi.in(FilterApi.intColumn(n), s)
      case other => throw new IllegalStateException(s"in over $other")
    }
    def notInSet(n: String, vs: Array[Any]): FilterPredicate = dt(n) match {
      case LongType =>
        val s = new java.util.HashSet[java.lang.Long]()
        vs.foreach(v => s.add(v.asInstanceOf[Number].longValue))
        FilterApi.userDefined(FilterApi.longColumn(n),
          new GraftNotInSet[java.lang.Long](s))
      case IntegerType | ShortType | ByteType =>
        val s = new java.util.HashSet[java.lang.Integer]()
        vs.foreach(v => s.add(v.asInstanceOf[Number].intValue))
        FilterApi.userDefined(FilterApi.intColumn(n),
          new GraftNotInSet[java.lang.Integer](s))
      case DoubleType =>
        val s = new java.util.HashSet[java.lang.Double]()
        vs.foreach(v => s.add(v.asInstanceOf[Number].doubleValue))
        FilterApi.userDefined(FilterApi.doubleColumn(n),
          new GraftNotInSet[java.lang.Double](s))
      case FloatType =>
        val s = new java.util.HashSet[java.lang.Float]()
        vs.foreach(v => s.add(v.asInstanceOf[Number].floatValue))
        FilterApi.userDefined(FilterApi.floatColumn(n),
          new GraftNotInSet[java.lang.Float](s))
      case StringType =>
        val s = new java.util.HashSet[Binary]()
        vs.foreach(v => s.add(Binary.fromString(v.toString)))
        FilterApi.userDefined(FilterApi.binaryColumn(n),
          new GraftNotInSet[Binary](s))
      case DateType =>
        val s = new java.util.HashSet[java.lang.Integer]()
        vs.foreach(v => s.add(days(v)))
        FilterApi.userDefined(FilterApi.intColumn(n),
          new GraftNotInSet[java.lang.Integer](s))
      case other => throw new IllegalStateException(s"notIn over $other")
    }
    f match {
      case EqualTo(a, v) => eq(a, v)
      // `<>` / NOT IN under SQL semantics: parquet's bare notEq KEEPS
      // nulls, so the explicit not-null leg is mandatory
      case Not(EqualTo(a, v)) => FilterApi.and(notEqNull(a), notEq(a, v))
      case Not(In(a, vs)) =>
        FilterApi.and(notEqNull(a), notInSet(a, vs))
      // string predicates: user-defined parquet predicates — exact
      // record-level keep() (null never matches), min/max row-group
      // pruning for the prefix shape
      case StringStartsWith(a, v) => FilterApi.userDefined(
        FilterApi.binaryColumn(a), new GraftStartsWith(v))
      case StringEndsWith(a, v) => FilterApi.userDefined(
        FilterApi.binaryColumn(a), new GraftSubstring(v, atEnd = true))
      case StringContains(a, v) => FilterApi.userDefined(
        FilterApi.binaryColumn(a), new GraftSubstring(v, atEnd = false))
      case In(a, vs) => inSet(a, vs)
      case IsNull(a) => eq(a, null)
      case IsNotNull(a) => notEqNull(a)
      case GreaterThan(a, v) => rel(a, v, ">")
      case GreaterThanOrEqual(a, v) => rel(a, v, ">=")
      case LessThan(a, v) => rel(a, v, "<")
      case LessThanOrEqual(a, v) => rel(a, v, "<=")
      // negation-free compounds compose exactly (unknown→false per leg
      // on both engines; see GraftIndexScanBuilder.hintable)
      case Or(l, r) =>
        FilterApi.or(toParquet(l, schema, days), toParquet(r, schema, days))
      case And(l, r) =>
        FilterApi.and(toParquet(l, schema, days), toParquet(r, schema, days))
      case other => throw new IllegalStateException(
        s"graft-index: filter has no parquet translation: $other")
    }
  }
}

/** Parquet user-defined predicate for `startsWith` (round-12): exact
  * record-level keep (a NULL value never matches — SQL's unknown→false
  * by construction) plus min/max row-group pruning — a value starting
  * with `prefix` is ≥ prefix and shares its first bytes, so a group
  * whose max (truncated to prefix length) sorts below the prefix, or
  * whose min (truncated) sorts above it, holds no match under the
  * unsigned lexicographic order parquet's binary stats use.
  */
private[sources] class GraftStartsWith(prefix: String)
    extends org.apache.parquet.filter2.predicate.UserDefinedPredicate[Binary]
    with Serializable {
  private val p = prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  override def keep(value: Binary): Boolean = value != null && {
    val v = value.getBytesUnsafe
    v.length >= p.length && {
      var i = 0
      while (i < p.length && v(i) == p(i)) i += 1
      i == p.length
    }
  }
  override def canDrop(
      stat: org.apache.parquet.filter2.predicate.Statistics[Binary]): Boolean = {
    val cmp = org.apache.parquet.schema.PrimitiveComparator
      .UNSIGNED_LEXICOGRAPHICAL_BINARY_COMPARATOR
    val pb = Binary.fromReusedByteArray(p)
    val max = stat.getMax
    val min = stat.getMin
    cmp.compare(max.slice(0, math.min(p.length, max.length)), pb) < 0 ||
      cmp.compare(min.slice(0, math.min(p.length, min.length)), pb) > 0
  }
  // only consulted under a pushed NOT(this) — never built; keep all
  override def inverseCanDrop(
      stat: org.apache.parquet.filter2.predicate.Statistics[Binary]): Boolean =
    false
}

/** NOT IN as a parquet user-defined predicate (round-12): one hash-set
  * lookup per record at predicate depth 1, however long the exclusion
  * list. Exists because BOTH built-in routes fail at scale:
  * FilterApi.notIn's record-level inspector is broken for ≥2-value
  * sets in parquet-mr 1.16 (keeps any value differing from ANY
  * element), and an And-of-notEq chain overflows the visitor's
  * recursion at a few thousand elements. keep(null) = false — SQL's
  * unknown→false — matching the surrounding And(IsNotNull, …). No
  * stats pruning: an exclusion list says nothing useful
  * about a group's min/max.
  */
private[sources] class GraftNotInSet[T <: Comparable[T]](
    target: java.util.HashSet[T])
    extends org.apache.parquet.filter2.predicate.UserDefinedPredicate[T]
    with Serializable {
  override def keep(value: T): Boolean =
    value != null && !target.contains(value)
  override def canDrop(
      stat: org.apache.parquet.filter2.predicate.Statistics[T]): Boolean = false
  override def inverseCanDrop(
      stat: org.apache.parquet.filter2.predicate.Statistics[T]): Boolean = false
}

/** `endsWith` / `contains` twin: exact keep, no stats pruning (suffix
  * and substring membership say nothing about a group's min/max).
  */
private[sources] class GraftSubstring(needle: String, atEnd: Boolean)
    extends org.apache.parquet.filter2.predicate.UserDefinedPredicate[Binary]
    with Serializable {
  private val n = needle.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  private def matchAt(v: Array[Byte], off: Int): Boolean = {
    var i = 0
    while (i < n.length && v(off + i) == n(i)) i += 1
    i == n.length
  }
  override def keep(value: Binary): Boolean = value != null && {
    val v = value.getBytesUnsafe
    if (v.length < n.length) false
    else if (atEnd) matchAt(v, v.length - n.length)
    else {
      var off = 0
      var found = false
      while (!found && off <= v.length - n.length) {
        found = matchAt(v, off); off += 1
      }
      found
    }
  }
  override def canDrop(
      stat: org.apache.parquet.filter2.predicate.Statistics[Binary]): Boolean =
    false
  override def inverseCanDrop(
      stat: org.apache.parquet.filter2.predicate.Statistics[Binary]): Boolean =
    false
}

/** EXECUTOR-SIDE footer cache (round-12): a serving index is probed
  * repeatedly — every probe re-read and re-parsed each file's footer
  * (~8-10 ms/file, measured on both engines' public readers), which at
  * the index writers' small-file sizes dominated the filtered-scan gap
  * to the parquet twin. Footers are immutable once written (the index
  * lifecycle appends new files and dynamically overwrites whole
  * partitions with NEW part files — never rewrites a file in place),
  * so a (path, length, mtime)-keyed cache is exact; the mtime leg
  * costs one getFileStatus (~µs locally) against the ~10 ms parse it
  * saves. Bounded by entry count with random eviction (no LRU lock on
  * the 32-thread hot path); ~few KB per entry. The same move Trino's
  * metadata cache makes for its parquet serving path.
  */
private[graft] object GraftFooterCache {
  import org.apache.parquet.hadoop.metadata.ParquetMetadata
  private val MaxEntries = 4096
  private val m = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), ParquetMetadata]()
  /** Cache-hit counter for the spec (reads must not re-parse). */
  private[graft] val hits = new java.util.concurrent.atomic.AtomicLong
  private[graft] val misses = new java.util.concurrent.atomic.AtomicLong

  def footer(file: String, conf: Configuration): ParquetMetadata =
    footerWithLen(file, conf)._1

  /** Footer plus the file length from the SAME getFileStatus the cache
    * key needs anyway — callers that also want the length (split
    * construction) avoid a second stat (round-12).
    */
  def footerWithLen(file: String, conf: Configuration): (ParquetMetadata, Long) = {
    val p = new Path(file)
    val st = p.getFileSystem(conf).getFileStatus(p)
    val key = (file, st.getLen, st.getModificationTime)
    val cached = m.get(key)
    if (cached != null) { hits.incrementAndGet(); return (cached, st.getLen) }
    misses.incrementAndGet()
    val read = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      HadoopInputFile.fromPath(p, conf),
      org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
    if (m.size >= MaxEntries) {
      // random-ish eviction: drop one resident entry (a full clear
      // would stampede every thread back to disk at once)
      val it = m.keySet().iterator()
      if (it.hasNext) { it.next(); it.remove() }
    }
    m.put(key, read)
    (read, st.getLen)
  }

  /** Row count without opening a reader (COUNT paths). */
  def recordCount(file: String, conf: Configuration): Long = {
    val blocks = footer(file, conf).getBlocks
    var n = 0L
    var i = 0
    while (i < blocks.size()) { n += blocks.get(i).getRowCount; i += 1 }
    n
  }
}

/** Executor-side reader factory: partition splits (one or many files)
  * decode through Spark's own vectorized parquet reader
  * ([[GraftIndexSparkVectorReader]]) whenever a data column is
  * projected; partition columns and `_file` are per-file constants.
  * When NO data column is required (a partition-only projection or a
  * COUNT), the reader emits footer-counted constant rows — zero data
  * pages decoded.
  */
class GraftIndexReaderFactory(readSchema: StructType, isPart: Array[Boolean],
    // data-filter PRUNING HINTS: parquet predicates for row-group/page
    // pruning only — Spark re-filters above, so they carry no
    // exactness weight
    hintData: Array[Filter], tableSchema: StructType,
    limit: Option[Int] = None,
    private[graft] val conf: org.apache.spark.broadcast.Broadcast[SerializableConfiguration],
    // session-SQL knobs captured at PLANNING time (the executor has no
    // SparkSession): exactly the keys Spark's own parquet scan copies
    // into its per-task Hadoop conf before handing it to the
    // vectorized reader
    sql: GraftSessionSql = GraftSessionSql.capture())
    extends PartitionReaderFactory {

  private val dataFields: Array[StructField] =
    readSchema.fields.zip(isPart).collect { case (f, false) => f }

  override def supportColumnarReads(p: InputPartition): Boolean =
    dataFields.nonEmpty

  /** Normalize both split kinds to (file, start, len, constant row):
    * partition values come from the split's directory chain, the
    * `_file` lineage column is the file path itself — all per-SLICE
    * constants. Key-grouped and agg splits are always whole files.
    */
  private def fileParts(p: InputPartition): Seq[(String, Long, Long, Array[Any])] = {
    def constOf(file: String, partValues: Map[String, Any]): Array[Any] =
      readSchema.fields.zip(isPart).map {
        case (f, true) =>
          // `_file` lineage metadata: the file path itself (a partition
          // column literally named _file would carry a partValues entry
          // and win — but then the metadata column is hidden anyway)
          if (f.name == GraftIndexTable.FileCol && !partValues.contains(f.name))
            UTF8String.fromString(file)
          else GraftIndexReaderFactory.toInternal(partValues(f.name), f.dataType)
        case _ => null
      }
    p match {
      case k: GraftIndexInputPartition =>
        k.files.map(f => (f, 0L, GraftIndexRange.Whole, constOf(f, k.partValues)))
      case pk: GraftIndexPackedPartition =>
        pk.files.map { case (f, s, l, pv) => (f, s, l, constOf(f, pv)) }
    }
  }

  override def createColumnarReader(
      p: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new GraftIndexSparkVectorReader(fileParts(p), readSchema, isPart,
      dataFields, limit, sql, conf.value.value, hintData, tableSchema)

  /** Row reads only ever carry constant columns (data-column scans are
    * columnar, see supportColumnarReads).
    */
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val base = new GraftIndexCountingReader(fileParts(p), readSchema, isPart,
      conf.value.value)
    limit match {
      case Some(n) => new PartitionReader[InternalRow] {
        private var emitted = 0
        override def next(): Boolean =
          emitted < n && base.next() && { emitted += 1; true }
        override def get(): InternalRow = base.get()
        override def close(): Unit = base.close()
      }
      case None => base
    }
  }
}

object GraftIndexReaderFactory {
  /** External partition value (typed by the scan's parse, nullable) →
    * Spark internal representation.
    */
  def toInternal(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (s: String, StringType) => UTF8String.fromString(s)
    case _ => v
  }
}

/** The session-SQL settings Spark's own parquet scan copies into each
  * task's Hadoop configuration (ParquetFileFormat does exactly this
  * before constructing its vectorized reader) — captured once at
  * planning, shipped in the reader factory, stamped onto the per-file
  * conf executor-side. Without them ParquetToSparkSchemaConverter's
  * Configuration constructor has nothing to read.
  */
case class GraftSessionSql(tz: String, caseSensitive: Boolean,
    binaryAsString: Boolean, int96AsTimestamp: Boolean,
    inferTimestampNtz: Boolean, nanosAsLong: Boolean,
    fieldIdRead: Boolean, ignoreMissingFieldId: Boolean,
    // rebase-mode session fallbacks + INT96 zone conversion (round-13):
    // files with NO Spark version metadata (non-Spark or pre-3.0
    // writers) honor spark.sql.parquet.*RebaseModeInRead exactly as
    // DataSourceUtils does (default EXCEPTION — refuse, don't guess);
    // int96TimestampConversion mirrors ParquetFileFormat's
    // Impala-compat zone shift for non-parquet-mr-created files
    dtRebaseRead: String = "EXCEPTION", i96RebaseRead: String = "EXCEPTION",
    int96TsConversion: Boolean = false)
    extends Serializable {
  import org.apache.spark.sql.internal.SQLConf
  def stamp(conf: Configuration): Unit = {
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, tz)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, caseSensitive)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, binaryAsString)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, int96AsTimestamp)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      inferTimestampNtz)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, nanosAsLong)
    conf.setBoolean(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key, fieldIdRead)
    conf.setBoolean(SQLConf.IGNORE_MISSING_PARQUET_FIELD_ID.key,
      ignoreMissingFieldId)
  }
}

object GraftSessionSql {
  def capture(): GraftSessionSql = {
    val c = SparkSession.active.sessionState.conf
    import org.apache.spark.sql.internal.SQLConf
    GraftSessionSql(c.sessionLocalTimeZone, c.caseSensitiveAnalysis,
      c.isParquetBinaryAsString, c.isParquetINT96AsTimestamp,
      c.parquetInferTimestampNTZEnabled, c.legacyParquetNanosAsLong,
      c.parquetFieldIdReadEnabled, c.ignoreMissingParquetFieldId,
      dtRebaseRead = c.getConf(SQLConf.PARQUET_REBASE_MODE_IN_READ).toString,
      i96RebaseRead = c.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_READ).toString,
      int96TsConversion = c.isParquetINT96TimestampConversion)
  }
}

/** The connector's ONE data decoder: per file, Spark's OWN
  * VectorizedParquetRecordReader — the same bulk page decoder every
  * parquet FileSourceScan runs — initialized from the executor-side
  * cached footer (its public initialize overload accepts a pre-read
  * ParquetMetadata, so the connector's footer cache still skips the
  * per-file footer IO parquet scans pay). Partition values and the
  * `_file` lineage constant ride initBatch's partition-column
  * mechanism; the reader's batch lays out data columns first then
  * partition constants, so a zero-copy ColumnarBatch re-indexes the
  * same vectors into the connector's readSchema order. Row-level
  * semantics (missing columns → null vectors, timestamp rebase from
  * the file's own writer metadata, type widening under mergeSchema)
  * are spark.read.parquet's by construction — it IS that reader.
  * Data-filter hints become the reader's parquet filter predicate, so
  * row groups and pages they rule out are never decoded; Spark's Filter
  * above the scan keeps the result exact.
  */
class GraftIndexSparkVectorReader(fileParts: Seq[(String, Long, Long, Array[Any])],
    readSchema: StructType, isPart: Array[Boolean],
    dataFields: Array[StructField], limit: Option[Int],
    sql: GraftSessionSql, baseConf: Configuration,
    hintFilters: Array[Filter], tableSchema: StructType)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  private val BatchRows = 4096
  private val dataSchema = StructType(dataFields.toIndexedSeq)
  private val partOrdinals: Array[Int] =
    readSchema.fields.indices.filter(isPart(_)).toArray
  private val partSchema = StructType(
    partOrdinals.map(readSchema.fields(_)).toIndexedSeq)
  // output ordinal → inner-batch ordinal (inner = data cols, then
  // partition constants in partSchema order)
  private val order: Array[Int] = {
    var d = 0
    var p = 0
    readSchema.fields.indices.map { i =>
      if (isPart(i)) { val k = dataFields.length + p; p += 1; k }
      else { val k = d; d += 1; k }
    }.toArray
  }

  private val fileQueue = scala.collection.mutable.Queue(fileParts: _*)
  private var inner: VectorizedParquetRecordReader = _
  private var out: ColumnarBatch = _
  private var rowsRemaining: Long = limit.map(_.toLong).getOrElse(Long.MaxValue)

  // ONE conf per reader, not per file: the copy + SQL-key stamp is a
  // per-file constant cost that dominated tiny-file scans; nothing in
  // it varies per file (rebase modes are constructor args, read from
  // each footer below), and the downstream consumers only read it
  private val fc = {
    val c = new Configuration(baseConf)
    sql.stamp(c)
    c.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport].getName)
    // the requested Catalyst schema: data columns only — partition
    // constants are initBatch's job, exactly like Spark's file scans
    c.set("org.apache.spark.sql.parquet.row.requested_schema", dataSchema.json)
    c
  }

  // ONE task context per distinct conf, reused across files:
  // TaskAttemptContextImpl copies its conf into a JobConf, and that copy
  // (plus the copy a hint conf needs) per file was the dominant cost of
  // small-file filtered scans. Spark's reader only reads the conf.
  private def newContext(c: Configuration) =
    new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      c, new org.apache.hadoop.mapreduce.TaskAttemptID())
  private lazy val plainContext = newContext(fc)
  // keyed by the file's folded hints and whether its dates are LEGACY
  private val hintContexts = scala.collection.mutable.HashMap[
    (Seq[Filter], Boolean), org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl]()

  private def openNext(): Boolean = {
    // loop, not recursion: a constant-false hint fold skips a file, and
    // a bin can hold many skippable files (openCostInBytes=0 unbounds
    // the per-bin file count)
    while (true) {
      openNextStep() match {
        case 1 => return true
        case 2 => return false
        case _ => // skipped: next file
      }
    }
    false
  }

  /** 1 = opened, 2 = exhausted, 0 = file skipped (hint folded FALSE). */
  private def openNextStep(): Int = {
    if (inner != null) { inner.close(); inner = null }
    if (fileQueue.isEmpty) return 2
    val (file, start, sliceLen, const) = fileQueue.dequeue()
    val p = new Path(file)
    val (footer0, fileLen) = GraftFooterCache.footerWithLen(file, fc)
    // rebase modes — DataSourceUtils' exact spec (round-13, was
    // two-state): legacy-stamped files rebase LEGACY; files carrying a
    // Spark 3+ version stamp decode verbatim (CORRECTED); files with NO
    // Spark version metadata (non-Spark or pre-3.0 writers) fall back
    // to the session's *RebaseModeInRead — default EXCEPTION, i.e.
    // refuse ancient values rather than guess a calendar
    val kv = Option(footer0.getFileMetaData.getKeyValueMetaData)
      .getOrElse(java.util.Collections.emptyMap[String, String]())
    def rebase(legacyKey: String, fallback: String): String =
      if (kv.containsKey(legacyKey)) "LEGACY"
      else if (kv.containsKey("org.apache.spark.version")) "CORRECTED"
      else fallback
    val dtMode = rebase("org.apache.spark.legacyDateTime", sql.dtRebaseRead)
    val i96Mode = rebase("org.apache.spark.legacyINT96", sql.i96RebaseRead)
    // data-filter HINTS: fold them against THIS file's columns (absent
    // column = all-null) and stamp the residual on a per-file conf —
    // Spark's own reader then prunes row groups by stats/dictionary and
    // pages by the column index (ParquetRowGroupReaderImpl reads via
    // readNextFilteredRowGroup). A conjunct that folds to constant FALSE
    // skips the file with zero IO. Spark still runs the full Filter
    // above: the hints only shed work, never rows that could match.
    // DATE comparands follow the file's calendar exactly like Spark's
    // ParquetFilters: a LEGACY-rebased file stores Julian day counts.
    val ctx =
      if (hintFilters.isEmpty) plainContext
      else {
        val present = footer0.getFileMetaData.getSchema.getFields
          .asInstanceOf[java.util.List[org.apache.parquet.schema.Type]]
          .stream().map[String](_.getName).toArray.map(_.toString).toSet
        val folded = hintFilters.map(GraftIndexFilters.forFile(_, present))
        if (folded.contains(Left(false))) return 0
        val inFile = folded.collect { case Right(f) => f }.toSeq
        if (inFile.isEmpty) plainContext
        else hintContexts.getOrElseUpdate((inFile, dtMode == "LEGACY"), {
          val days: Any => Int =
            if (dtMode == "LEGACY") v =>
              org.apache.spark.sql.catalyst.util.RebaseDateTime
                .rebaseGregorianToJulianDays(GraftIndexDate.toDays(v))
            else GraftIndexDate.toDays
          val c = new Configuration(fc)
          org.apache.parquet.hadoop.ParquetInputFormat.setFilterPredicate(c,
            inFile.map(GraftIndexFilters.toParquet(_, tableSchema, days))
              .reduce(FilterApi.and))
          newContext(c)
        })
      }
    // range slice: hand the reader a footer holding ONLY the slice's
    // midpoint-owned row groups (what Spark's own scans do — they read
    // the footer with the split's range filter), plus the matching
    // split bounds for the reader base's own range check
    val whole = start == 0L && sliceLen == GraftIndexRange.Whole
    val footer =
      if (whole) footer0
      else new org.apache.parquet.hadoop.metadata.ParquetMetadata(
        footer0.getFileMetaData,
        GraftIndexRange.blocksIn(footer0, start, sliceLen))
    val splitLen =
      if (whole) fileLen else math.min(sliceLen, fileLen - start)
    // INT96 zone conversion (round-13): ParquetFileFormat shifts
    // Impala-written INT96 into the session zone when
    // int96TimestampConversion is on and the file was NOT created by
    // parquet-mr (Spark's own files always are)
    val convertTz =
      if (sql.int96TsConversion &&
          !Option(footer.getFileMetaData.getCreatedBy)
            .exists(_.startsWith("parquet-mr")))
        java.time.ZoneId.of(sql.tz)
      else null
    // mapred.FileSplit (which extends the mapreduce one): the reader
    // base downcasts to the OLD interface internally
    val split = new org.apache.hadoop.mapred.FileSplit(
      p, start, splitLen, Array.empty[String])
    // batch vectors sized to the slice: index-cell files hold a few
    // hundred rows, and a full 4096-row allocation per file was a
    // measurable share of small-file scans
    var sliceRows = 0L
    footer.getBlocks.forEach(b => sliceRows += b.getRowCount)
    val r = new VectorizedParquetRecordReader(convertTz, dtMode, sql.tz,
      i96Mode, sql.tz, false, math.max(1L, math.min(BatchRows, sliceRows)).toInt)
    // the reader takes the cached footer only together with an open
    // stream; without one it re-reads the footer from the file
    val input = HadoopInputFile.fromPath(p, fc)
    val stream = input.newStream()
    var ok = false
    try {
      r.initialize(split, ctx, Some(input), Some(stream), Some(footer))
      val pvals = new GenericInternalRow(
        partOrdinals.map(const(_)).asInstanceOf[Array[Any]])
      r.initBatch(partSchema, pvals)
      r.enableReturningBatches()
      ok = true
    } finally if (!ok) { r.close(); stream.close() }
    inner = r
    val rb = r.resultBatch()
    out = new ColumnarBatch(order.map(j => rb.column(j): ColumnVector), 0)
    GraftIndexSparkVectorReader.opens.incrementAndGet()
    1
  }

  override def next(): Boolean = {
    if (rowsRemaining <= 0) return false
    while (true) {
      if (inner == null && !openNext()) return false
      if (inner.nextBatch()) {
        val n = inner.resultBatch().numRows()
        if (n > 0) {
          val emit = math.min(n.toLong, rowsRemaining).toInt
          rowsRemaining -= emit
          GraftIndexSparkVectorReader.rowsRead.addAndGet(emit)
          out.setNumRows(emit)
          return true
        }
      } else { inner.close(); inner = null }
    }
    false // unreachable
  }

  override def get(): ColumnarBatch = out

  override def close(): Unit =
    if (inner != null) { inner.close(); inner = null }
}

object GraftIndexSparkVectorReader {
  /** Per-file open counter — the lane-routing pin for the spec. */
  private[graft] val opens = new java.util.concurrent.atomic.AtomicLong

  /** Rows emitted by delegated readers — the hint-pruning observable:
    * with data-filter hints stamped, pruned groups/pages never emit.
    */
  private[graft] val rowsRead = new java.util.concurrent.atomic.AtomicLong
}

/** Footer-count-only reader for zero-data-column projections. Emits
  * per FILE (constants may differ across a packed split's files).
  */
class GraftIndexCountingReader(fileParts: Seq[(String, Long, Long, Array[Any])],
    readSchema: StructType, isPart: Array[Boolean], conf: Configuration)
    extends PartitionReader[InternalRow] {
  private val queue = scala.collection.mutable.Queue(fileParts: _*)
  private var leftInFile = 0L
  private val row = new GenericInternalRow(readSchema.length)
  override def next(): Boolean = {
    while (leftInFile == 0) {
      if (queue.isEmpty) return false
      val (f, start, len, const) = queue.dequeue()
      // cached footer (round-12): a COUNT over a hot index re-parses
      // nothing; range slices count only their midpoint-owned groups
      leftInFile = GraftIndexRange.rows(f, conf, start, len)
      var i = 0
      while (i < readSchema.length) {
        if (isPart(i)) row.update(i, const(i)); i += 1
      }
    }
    leftInFile -= 1
    true
  }
  override def get(): InternalRow = row
  override def close(): Unit = ()
}

/** Footer-stats aggregate reader: one partial row per file from
  * row-group metadata; a column missing stats in any row group falls
  * back to decoding JUST that column.
  */
class GraftIndexAggReaderFactory(agg: Aggregation, aggSchema: StructType,
    isPart: Array[Boolean],
    private[graft] val conf: org.apache.spark.broadcast.Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  // serializable spec: (kind, colName) per aggregate, kinds C/MIN/MAX
  private val spec: Array[(String, String)] = agg.aggregateExpressions.map {
    case _: CountStar => ("C", "")
    case m: Min => ("MIN",
      m.column.asInstanceOf[NamedReference].fieldNames.head)
    case m: Max => ("MAX",
      m.column.asInstanceOf[NamedReference].fieldNames.head)
    case other => throw new IllegalStateException(s"unsupported pushed agg $other")
  }

  /** ONE row per SPLIT, folding every file of the split. Under complete
    * (group-by-partition-columns) pushdown a split carries ALL files of
    * its group, so the row is the group's FINAL aggregate — no Spark
    * aggregate, no exchange above. Under partial (ungrouped) pushdown
    * splits are single-file, so this is the old per-file partial row.
    */
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val gip = p.asInstanceOf[GraftIndexInputPartition]
      private var emitted = false
      override def next(): Boolean = !emitted && { emitted = true; true }

      private def pick(a: Any, b: Any, isMin: Boolean): Any = {
        val c = a.asInstanceOf[Comparable[Any]].compareTo(b)
        if ((isMin && c <= 0) || (!isMin && c >= 0)) a else b
      }

      override def get(): InternalRow = {
        val row = new GenericInternalRow(aggSchema.length)
        // group (partition) columns first — directory constants
        var si = 0
        val slots = aggSchema.fields.zipWithIndex.map { case (f, i) =>
          if (isPart(i)) {
            row.update(i, GraftIndexReaderFactory.toInternal(
              gip.partValues(f.name), f.dataType))
            None
          } else { val s = spec(si); si += 1; Some((s, i)) }
        }.flatten
        val counts = new Array[Long](slots.length)
        val bests = new Array[Any](slots.length)
        gip.files.foreach { file =>
          // cached footer (round-12): stats aggregates over a hot index
          // are pure in-memory folds after the first touch
          val footer = GraftFooterCache.footer(file, conf.value.value)
          locally {
            val blocks = footer.getBlocks
            slots.zipWithIndex.foreach { case (((kind, col), i), k) =>
              kind match {
                case "C" =>
                  counts(k) += GraftFooterCache.recordCount(file, conf.value.value)
                case mm =>
                  val isMin = mm == "MIN"
                  val stats = (0 until blocks.size()).map { b =>
                    val cc = blocks.get(b).getColumns.asInstanceOf[
                      java.util.List[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData]]
                      .stream().filter(_.getPath.toDotString == col)
                      .findFirst()
                    if (cc.isPresent) Option(cc.get.getStatistics) else None
                  }
                  val fileBest: Any =
                    if (stats.exists(s => s.isEmpty || s.get.isEmpty))
                      // stats missing: decode just this column
                      GraftIndexAggReaderFactory.scanMinMax(file, col, isMin,
                        aggSchema.fields(i).dataType, conf.value.value)
                    else {
                      val nonNull = stats.flatten.filter(_.hasNonNullValue)
                      if (nonNull.isEmpty) null
                      else nonNull.map(s =>
                        (if (isMin) s.genericGetMin else s.genericGetMax): Any)
                        .reduce(pick(_, _, isMin))
                    }
                  if (fileBest != null)
                    bests(k) = if (bests(k) == null) fileBest
                      else pick(bests(k), fileBest, isMin)
              }
            }
          }
        }
        slots.zipWithIndex.foreach { case (((kind, _), i), k) =>
          row.update(i,
            if (kind == "C") java.lang.Long.valueOf(counts(k))
            // SHORT/BYTE stats arrive as Integer from parquet's
            // generic accessors (INT32 physical) — narrow to the
            // output field's internal type at the very end, after the
            // Integer-vs-Integer Comparable folds above
            else (bests(k), aggSchema.fields(i).dataType) match {
              case (n: java.lang.Integer, ShortType) =>
                java.lang.Short.valueOf(n.shortValue)
              case (n: java.lang.Integer, ByteType) =>
                java.lang.Byte.valueOf(n.byteValue)
              case (v, _) => v
            })
        }
        row
      }
      override def close(): Unit = ()
    }
}

object GraftIndexAggReaderFactory {
  /** Stats-missing fallback: decode one column, compute min/max. A file
    * that doesn't CONTAIN the column at all (evolved schema) contributes
    * all-null → null, matching spark.read.parquet's merged-schema view.
    */
  def scanMinMax(file: String, col: String, isMin: Boolean,
      dt: DataType, baseConf: Configuration): Any = {
    val conf = new Configuration(baseConf)
    val footer = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(file), conf))
      try r.getFileMetaData.getSchema finally r.close()
    }
    val present = footer.getFields
      .asInstanceOf[java.util.List[org.apache.parquet.schema.Type]]
      .stream().anyMatch(_.getName == col)
    if (!present) return null
    val projected = new org.apache.parquet.schema.MessageType(footer.getName,
      footer.getFields.asInstanceOf[java.util.List[org.apache.parquet.schema.Type]]
        .stream().filter(_.getName == col)
        .toArray(n => new Array[org.apache.parquet.schema.Type](n)): _*)
    conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
      projected.toString)
    val reader = ParquetReader.builder(new GroupReadSupport(), new Path(file))
      .withConf(conf).build()
    try {
      var best: Any = null
      var g = reader.read()
      while (g != null) {
        val idx = g.getType.getFieldIndex(col)
        if (g.getFieldRepetitionCount(idx) > 0) {
          val v: Any = dt match {
            case LongType => java.lang.Long.valueOf(g.getLong(idx, 0))
            // SHORT/BYTE fold as Integer like their footer stats do;
            // the agg reader narrows to the output type at the end
            case IntegerType | DateType | ShortType | ByteType =>
              java.lang.Integer.valueOf(g.getInteger(idx, 0))
            case DoubleType => java.lang.Double.valueOf(g.getDouble(idx, 0))
            case FloatType => java.lang.Float.valueOf(g.getFloat(idx, 0))
            case other => throw new IllegalStateException(s"minmax over $other")
          }
          if (best == null) best = v
          else {
            val c = v.asInstanceOf[Comparable[Any]].compareTo(best)
            if ((isMin && c < 0) || (!isMin && c > 0)) best = v
          }
        }
        g = reader.read()
      }
      best
    } finally reader.close()
  }
}

/** DATE comparand normalization (round-12): Spark's v1 Filters carry
  * java.sql.Date or java.time.LocalDate depending on
  * spark.sql.datetime.java8API.enabled; parquet DATE and Spark's
  * internal DateType are both the epoch-day Int, so every date
  * predicate reduces to integer compares once the comparand is
  * converted here.
  */
object GraftIndexDate {
  def toDays(v: Any): Int = v match {
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
    case d: java.time.LocalDate => d.toEpochDay.toInt
    case n: Number => n.intValue // already an epoch-day count
    case other => throw new IllegalStateException(
      s"graft-index: not a DATE comparand: $other (${other.getClass})")
  }
}
