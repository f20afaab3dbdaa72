package graft.util

import java.io.ByteArrayInputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Path, Paths}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.filter2.compat.{FilterCompat, RowGroupFilter}
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.SparkContext
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Attribute, BoundReference, Cast, InterpretedMutableProjection, InterpretedOrdering, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project, Sort}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFilters}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, GraftPlanBridge, SparkSession}

/** Key-routed reads on the calling thread: a store's listed parquet files
  * read on the driver into plain rows ([[Table]]), and the few operators a
  * stored route needs over them — top-n, a hash join, a grouped gather, a
  * projection — evaluated on plain values with Spark's own expressions
  * and orderings. A stored request builds no Dataset, plans nothing and
  * runs no SQL execution: each expression it needs is resolved once per
  * thread, session state and row layout ([[prepare]]) and then evaluated
  * row by row with the interpreted projection Spark's own folding of a
  * projection over a local relation (`ConvertToLocalRelation`) uses, so
  * the values are the ones a local frame would give. [[frame]] wraps rows
  * in a local frame for the callers that want a DataFrame; [[table]]
  * takes a local frame's rows back, and refuses loudly a frame whose plan
  * is not local, so a stored route can never turn into a Spark job
  * unnoticed.
  *
  * Files are read through `ParquetFileFormat.buildReaderWithPartitionValues`,
  * the function a scan task runs. One reader is built per row layout and
  * session state — the context and the SQL confs set in the session, so a
  * session that changes a parquet conf gets a reader built under it — on
  * a fresh Hadoop conf: building one broadcasts its conf, and a conf
  * shared between layouts races on the requested schema the reader stores
  * in it. A reader's filters are fixed when it is built, so a read's own
  * predicate prunes before the reader runs ([[rows]]): the reader is
  * handed only the byte ranges of the row groups whose min/max statistics
  * admit the predicate, as Spark's own `ParquetFilters` converts it. Each
  * listed file's footer is read for that once and kept.
  */
object LocalScan {

  private type Reader = PartitionedFile => Iterator[InternalRow]

  private val readers =
    TrieMap.empty[(SparkContext, Map[String, String], StructType, StructType), Reader]

  /** The SQL confs set in `spark`'s session: with its context, what a
    * reader or an expression resolved for the session depends on.
    */
  private[graft] def confs(spark: SparkSession): Map[String, String] =
    spark.sessionState.conf.getAllConfs

  private def reader(spark: SparkSession, data: StructType, parts: StructType): Reader =
    readers.getOrElseUpdate((spark.sparkContext, confs(spark), data, parts), {
      readers.keys.filter(_._1.isStopped).foreach(readers.remove)
      new ParquetFileFormat().buildReaderWithPartitionValues(spark, data, parts, data,
        Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), hadoopConf(spark))
    })

  /** A Hadoop conf holding only what the session sets — its
    * `spark.hadoop.*` entries and its SQL confs — without Hadoop's
    * default resources: the reader copies its conf for every file it
    * opens, and the defaults' thousand-odd entries made that copy most of
    * a small file's read time. The reader sets every key it reads itself.
    */
  private def hadoopConf(spark: SparkSession): Configuration = {
    val conf = new Configuration(false)
    spark.sparkContext.getConf.getAll.collect {
      case (k, v) if k.startsWith("spark.hadoop.") => conf.set(k.stripPrefix("spark.hadoop."), v)
    }
    spark.sessionState.conf.getAllConfs.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** What the driver reads on one thread did: the store files they
    * opened, as absolute paths, the rows the parquet reader decoded from
    * them before any plain-value test, and the footers read to prune row
    * groups (a file's footer is read once, then kept: [[ranges]]).
    */
  final case class Reads(files: Seq[String], rows: Long, footers: Int)

  private final class Recorder {
    val files = mutable.Buffer.empty[String]
    var rows = 0L
    var footers = 0
  }

  private val recording = new ThreadLocal[Recorder]

  /** `body`'s result and what the driver reads on this thread did while
    * it ran.
    */
  def reads[A](body: => A): (A, Reads) = {
    val outer = recording.get()
    val mine = new Recorder
    recording.set(mine)
    try { val a = body; (a, Reads(mine.files.toSeq, mine.rows, mine.footers)) }
    finally {
      recording.set(outer)
      if (outer != null) {
        outer.files ++= mine.files; outer.rows += mine.rows; outer.footers += mine.footers
      }
    }
  }

  /** `body`'s result and the store files the driver reads on this thread
    * opened while it ran, as absolute paths.
    */
  def opened[A](body: => A): (A, Seq[String]) = {
    val (a, r) = reads(body)
    (a, r.files)
  }

  /** The first `n` rows under `order`, as `orderBy(order: _*).limit(n)`
    * gives them: the bound of a read ([[rows]]), which then holds at
    * most `2n` rows while they stream.
    */
  final case class Top(n: Int, order: Column*)

  /** The row layout [[rows]] reads `schema` in: its columns other than
    * `partitions` first, then those.
    */
  def layout(schema: StructType, partitions: Seq[String]): StructType =
    StructType(schema.filterNot(f => partitions.contains(f.name)) ++ partitions.map(schema(_)))

  /** The rows of the store-relative `files` under `dest` that `keep`
    * accepts, read on the calling thread in [[layout]] order. The
    * `partitions` columns come from the files' `name=value` directories
    * below `base`. `prune` holds data source filters that every kept row
    * satisfies: a row group whose statistics rule them out is not
    * decoded, and a file with no row group left is not opened by the
    * reader. With `top`, only its first rows are held and returned, in
    * its order.
    */
  def rows(spark: SparkSession, dest: String, schema: StructType, base: String,
           partitions: Seq[String], files: Seq[String],
           prune: Seq[sources.Filter] = Nil, top: Option[Top] = None)(
      keep: InternalRow => Boolean = _ => true): Seq[InternalRow] =
    if (files.isEmpty) Nil
    else {
      val data = StructType(schema.filterNot(f => partitions.contains(f.name)))
      val parts = StructType(partitions.map(schema(_)))
      val open = reader(spark, data, parts)
      val out = new Held(top.map(t => t.n -> ordering(spark, layout(schema, partitions), t.order)))
      val rec = Option(recording.get())
      files.foreach { f =>
        val path = Paths.get(dest, f)
        rec.foreach(_.files += path.toString)
        val dirs = Option(Paths.get(dest, base).relativize(path).getParent)
        val named = dirs.toSeq.flatMap(d => (0 until d.getNameCount).map(d.getName(_).toString))
          .map(_.split("=", 2))
          .collect { case Array(k, v) => k -> ExternalCatalogUtils.unescapePathName(v) }.toMap
        val values = InternalRow.fromSeq(parts.map(p =>
          Cast(Literal(named(p.name)), p.dataType, Some(timeZone(spark))).eval()))
        val size = StoreFs.size(path)
        val file = SparkPath.fromPath(new HPath(path.toUri))
        ranges(spark, path, size, prune).foreach { case (start, end) =>
          val it = open(PartitionedFile(values, file, start, end - start, Array.empty, 0L, size,
            Map.empty))
          try it.foreach { r =>
            rec.foreach(_.rows += 1)
            if (keep(r)) out.offer(r)
          }
          finally it match { case c: AutoCloseable => c.close(); case _ => () }
        }
      }
      out.result
    }

  /** Copies of the rows offered: all of them in offer order, or with a
    * bound `(n, ordering)` the first `n` under the ordering, ties in offer
    * order — a stable sort's first `n`. Cutting back to those `n` whenever
    * twice as many are held keeps the ties' order and holds at most `2n`.
    */
  private final class Held(bound: Option[(Int, Ordering[InternalRow])]) {
    private val held = mutable.ArrayBuffer.empty[InternalRow]

    private def first(n: Int, o: Ordering[InternalRow]) = held.sorted(o).take(n)

    def offer(r: InternalRow): Unit = {
      held += r.copy()
      bound.foreach { case (n, o) =>
        if (held.size - n > n) { val kept = first(n, o); held.clear(); held ++= kept }
      }
    }

    def result: Seq[InternalRow] = bound.fold(held.toSeq) { case (n, o) => first(n, o).toSeq }
  }

  /** The byte ranges of the parquet file at `path` that hold the row
    * groups whose min/max statistics admit every one of `prune`, each
    * run of such groups up to the next group's start — the reader decodes
    * the row groups whose midpoints lie in the range it is given. The
    * whole file when no filter converts; none when every group is ruled
    * out.
    */
  private def ranges(spark: SparkSession, path: Path, size: Long,
                     prune: Seq[sources.Filter]): Seq[(Long, Long)] = {
    val sql = spark.sessionState.conf
    val whole = Seq(0L -> size)
    if (prune.isEmpty || !sql.parquetFilterPushDown) whole
    else footers.getOrElseUpdate(path.toAbsolutePath.normalize.toString -> size, {
      Option(recording.get()).foreach(_.footers += 1)
      footer(path, size)
    }).fold(whole) { meta =>
      val file = meta.getFileMetaData
      val filters = new ParquetFilters(file.getSchema, sql.parquetFilterPushDownDate,
        sql.parquetFilterPushDownTimestamp, sql.parquetFilterPushDownDecimal,
        sql.parquetFilterPushDownStringPredicate, sql.parquetFilterPushDownInFilterThreshold,
        sql.caseSensitiveAnalysis, DataSourceUtils.datetimeRebaseSpec(
          file.getKeyValueMetaData.get(_), sql.getConf(SQLConf.PARQUET_REBASE_MODE_IN_READ).toString))
      prune.flatMap(filters.createFilter).reduceOption(FilterApi.and).fold(whole) { p =>
        val groups = meta.getBlocks.asScala.toIndexedSeq
        val admitted = RowGroupFilter.filterRowGroups(FilterCompat.get(p), meta.getBlocks,
          file.getSchema).asScala.toSeq
        val kept = groups.indices.filter(i => admitted.exists(_ eq groups(i))).toSet
        def end(i: Int) = if (i + 1 < groups.size) groups(i + 1).getStartingPos else size
        if (kept.size == groups.size) whole
        else groups.indices.filter(kept).foldLeft(List.empty[(Long, Long)]) {
          case ((start, _) :: rest, i) if kept(i - 1) => (start, end(i)) :: rest
          case (acc, i) => (groups(i).getStartingPos, end(i)) :: acc
        }.reverse
      }
    }
  }

  /** Footers already read, by (absolute path, length): a listed store
    * file never changes, so its row-group extents and statistics are read
    * once.
    */
  private val footers = new Bounded[(String, Long), Option[ParquetMetadata]](4096)

  private val Magic = "PAR1".getBytes(StandardCharsets.US_ASCII)

  /** The footer of the plain (unencrypted) parquet file at `path`, read
    * with two positional reads and parsed by parquet's own converter;
    * `None` for any other file, which is then read whole.
    */
  private def footer(path: Path, size: Long): Option[ParquetMetadata] = {
    val ch = FileChannel.open(path)
    def at(pos: Long, n: Int): ByteBuffer = {
      val b = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
      while (b.hasRemaining && ch.read(b, pos + b.position()) >= 0) ()
      b.flip()
    }
    try {
      val tail = if (size < 12) None else Some(at(size - 8, 8))
      tail.filter(t => java.util.Arrays.equals(t.array.drop(4), Magic)).map { t =>
        val len = t.getInt(0)
        new ParquetMetadataConverter().readParquetMetadata(
          new ByteArrayInputStream(at(size - 8 - len, len).array),
          ParquetMetadataConverter.NO_FILTER)
      }
    } finally ch.close()
  }

  /** Rows laid out as `schema`: what a driver read returns and what the
    * row operators below take and give.
    */
  final case class Table(schema: StructType, rows: Seq[InternalRow]) {
    /** The same rows with field `from` named `to`. */
    def renamed(from: String, to: String): Table =
      copy(schema = StructType(schema.map(f => if (f.name == from) f.copy(name = to) else f)))

    /** The values of one column, as a collect gives them. */
    def values(column: String): Seq[Any] = {
      val i = schema.fieldIndex(column)
      val t = schema(i).dataType
      val toScala = CatalystTypeConverters.createToScalaConverter(t)
      rows.map(row => toScala(row.get(i, t)))
    }
  }

  /** A local frame of catalyst rows laid out as `schema`. */
  def frame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    GraftPlanBridge.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  def frame(spark: SparkSession, t: Table): DataFrame = frame(spark, t.schema, t.rows)

  /** Columns resolved over rows of one layout and evaluated on plain rows
    * as Spark folds a projection over a local relation: the analyzed
    * projection, with the rewriting Spark applies before that folding
    * (`ReplaceExpressions`), run by an interpreted projection under the
    * session's SQL conf. `schema` is the output layout.
    */
  final class Projection private[LocalScan] (conf: SQLConf, exprs: Seq[NamedExpression],
                                             input: Seq[Attribute]) {
    val schema: StructType = StructType(exprs.map(e => StructField(e.name, e.dataType, e.nullable)))
    private val project = new InterpretedMutableProjection(exprs, input)
    project.initialize(0)

    /** The projection of each of `rows`. */
    def apply(rows: Seq[InternalRow]): Seq[InternalRow] =
      SQLConf.withExistingConf(conf)(rows.map(r => project(r).copy()))

    def apply(t: Table): Table = Table(schema, apply(t.rows))
  }

  /** What a thread resolved, by caller key, session state and input
    * layout. A bound expression tree holds evaluation state — a lambda's
    * current element, the JSON writer of `to_json`, a projection's output
    * row — so no tree is shared between threads: each thread resolves its
    * own, once, on its first use.
    */
  private val resolved = ThreadLocal.withInitial[mutable.HashMap[(Any, Map[String, String], StructType), AnyRef]](
    () => mutable.HashMap.empty)

  private def perThread[A <: AnyRef](spark: SparkSession, schema: StructType, key: Any)(make: => A): A =
    resolved.get().getOrElseUpdate((key, confs(spark), schema), make).asInstanceOf[A]

  /** `cols` over rows of `schema`, resolved on this thread's first call
    * with `key` under this session state and layout, and reused after.
    * `key` names the columns: equal keys must mean equal columns.
    */
  def prepare(spark: SparkSession, schema: StructType, key: Any)(cols: => Seq[Column]): Projection =
    perThread(spark, schema, key) {
      ReplaceExpressions(frame(spark, schema, Nil).select(cols: _*).queryExecution.analyzed) match {
        case Project(list, child) => new Projection(spark.sessionState.conf, list, child.output)
        case p => throw new IllegalStateException(s"unexpected projection plan:\n${p.treeString}")
      }
    }

  /** `order` over rows of `schema`: the ordering of `orderBy(order: _*)`
    * on plain rows, resolved once per thread, session state and layout.
    */
  private def ordering(spark: SparkSession, schema: StructType,
                       order: Seq[Column]): Ordering[InternalRow] =
    perThread(spark, schema, "orderBy" -> order) {
      ReplaceExpressions(frame(spark, schema, Nil).orderBy(order: _*).queryExecution.analyzed) match {
        case Sort(o, _, child, _) =>
          val conf = spark.sessionState.conf
          val by = new InterpretedOrdering(o, child.output)
          new Ordering[InternalRow] {
            def compare(a: InternalRow, b: InternalRow): Int =
              SQLConf.withExistingConf(conf)(by.compare(a, b))
          }
        case p => throw new IllegalStateException(s"unexpected sort plan:\n${p.treeString}")
      }
    }

  /** The string form of `field` per row of `schema` — the cast the store
    * bucket function and the tombstone rule compare under, built once per
    * thread, session state and layout.
    */
  def stringOf(spark: SparkSession, schema: StructType, field: String): InternalRow => String = {
    val cast = perThread(spark, schema, "string" -> field) {
      val i = schema.fieldIndex(field)
      Cast(BoundReference(i, schema(i).dataType, nullable = true), StringType, Some(timeZone(spark)))
    }
    r => Option(cast.eval(r)).map(_.toString).orNull
  }

  /** The rows of a local frame (a bare one needs no optimizer run);
    * anything else throws.
    */
  def table(df: DataFrame): Table = df.queryExecution.analyzed match {
    case r: LocalRelation => Table(r.schema, r.data)
    case _ => df.queryExecution.optimizedPlan match {
      case r: LocalRelation => Table(r.schema, r.data)
      case p => throw new IllegalStateException(
        s"not a driver-local frame, it would run as a Spark job:\n${p.treeString}")
    }
  }

  /** The first `n` rows under `order`, as `orderBy(order: _*).limit(n)`
    * gives them, on plain rows.
    */
  def top(spark: SparkSession, t: Table, n: Int, order: Column*): Table =
    t.copy(rows = t.rows.sorted(ordering(spark, t.schema, order)).take(n))

  /** [[top]] of a local frame. */
  def top(df: DataFrame, n: Int, order: Column*): DataFrame =
    frame(df.sparkSession, top(df.sparkSession, table(df), n, order: _*))

  /** Every `left` row with each `right` row whose `rightKey` equals its
    * `leftKey` — an inner join, or with `outer` a left outer join — on
    * plain values. The result holds both sides' columns.
    */
  def join(left: Table, right: Table, leftKey: String, rightKey: String,
           outer: Boolean = false): Table = {
    def key(t: Table, name: String): InternalRow => Any = {
      val i = t.schema.fieldIndex(name)
      val dt = t.schema(i).dataType
      row => if (row.isNullAt(i)) null else row.get(i, dt)
    }
    val (lk, rk) = (key(left, leftKey), key(right, rightKey))
    val byKey = right.rows.groupBy(rk)
    val none = InternalRow.fromSeq(right.schema.map(_ => null))
    val rows = left.rows.flatMap { row =>
      val k = lk(row)
      val matches = if (k == null) Nil else byKey.getOrElse(k, Nil)
      (if (matches.isEmpty && outer) Seq(none) else matches).map(m =>
        InternalRow.fromSeq(row.toSeq(left.schema) ++ m.toSeq(right.schema)))
    }
    val rightOut = if (outer) right.schema.map(_.copy(nullable = true)) else right.schema
    Table(StructType(left.schema ++ rightOut), rows)
  }

  /** The last column's values collected per distinct value of the first
    * `groups` columns, on plain values: the groups' columns, then the list
    * as `name`, groups in first-seen order and values in row order. With
    * no groups it is one row, as a global aggregate is.
    */
  def gather(t: Table, groups: Int, name: String): Table = {
    val entries = mutable.LinkedHashMap.empty[Seq[Any], mutable.Buffer[Any]]
    if (groups == 0) entries(Nil) = mutable.Buffer.empty
    t.rows.foreach { row =>
      val vals = row.toSeq(t.schema)
      entries.getOrElseUpdate(vals.take(groups), mutable.Buffer.empty) += vals(groups)
    }
    val e = t.schema(groups)
    Table(StructType(t.schema.take(groups) :+
        StructField(name, ArrayType(e.dataType, containsNull = false), nullable = false)),
      entries.toSeq.map { case (k, vs) => InternalRow.fromSeq(k :+ new GenericArrayData(vs.toArray)) })
  }

  private def timeZone(spark: SparkSession): String =
    spark.sessionState.conf.sessionLocalTimeZone
}

/** A map that keeps its `max` most recently used entries: for values
  * derived from immutable inputs, such as a listed file's footer.
  */
private[graft] final class Bounded[K, V](max: Int) {
  private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = size > max
  }

  def get(k: K): Option[V] = m.synchronized(Option(m.get(k)))

  def put(k: K, v: V): Unit = m.synchronized(m.put(k, v))

  /** The value of `k`, computed by `v` (outside the lock) when absent. */
  def getOrElseUpdate(k: K, v: => V): V =
    get(k).getOrElse { val computed = v; put(k, computed); computed }
}
