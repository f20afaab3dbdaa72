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
import org.apache.spark.sql.catalyst.expressions.{Attribute, BoundReference, Cast, InterpretedMutableProjection, InterpretedOrdering, Literal, NamedExpression, UnsafeProjection, UnsafeRow}
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
  * admit the predicate, as Spark's own `ParquetFilters` converts it.
  *
  * Every file a store lists is written once under a unique name and never
  * changed in place: a new write, tombstone or fold arrives as a new
  * listed name. So what is read from a listed file can be kept under its
  * (absolute path, length): each file's footer is read once ([[ranges]]),
  * and the rows decoded from a byte range read again soon after are kept
  * in one process-wide cache bounded by bytes ([[rows]]). Tombstones are
  * applied after the read, on plain values, so a kept range never hides a
  * write.
  */
object LocalScan {

  private type Reader = PartitionedFile => Iterator[InternalRow]

  /** A byte range read: the reader, the file's absolute path and length,
    * the range's start and end.
    */
  private type RangeKey = (Reader, String, Long, Long, Long)

  private val readers =
    TrieMap.empty[(SparkContext, Map[String, String], StructType, StructType), Reader]

  /** The SQL confs set in `spark`'s session: with its context, what a
    * reader or an expression resolved for the session depends on.
    */
  private[graft] def confs(spark: SparkSession): Map[String, String] =
    spark.sessionState.conf.getAllConfs

  private def reader(spark: SparkSession, data: StructType, parts: StructType): Reader =
    readers.getOrElseUpdate((spark.sparkContext, confs(spark), data, parts), {
      // a stopped context's readers, and the rows they decoded, go
      readers.keys.filter(_._1.isStopped).foreach(k =>
        readers.remove(k).foreach { gone =>
          cached.removeKeys(_._1 eq gone)
          seen.synchronized(seen.keySet.removeIf(_._1 eq gone))
        })
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
    * served, as absolute paths, whether their rows were kept or decoded;
    * the rows examined before any plain-value test; the footers read to
    * prune row groups (a file's footer is read once, then kept:
    * [[ranges]]); the rows the parquet reader decoded, for the byte
    * ranges not already kept ([[rows]]); and the most rows one read held
    * at once for its result.
    */
  final case class Reads(files: Seq[String], rows: Long, footers: Int, decoded: Long,
                         held: Int)

  private final class Recorder {
    val files = mutable.Buffer.empty[String]
    var rows = 0L
    var footers = 0
    var decoded = 0L
    var held = 0
  }

  private val recording = new ThreadLocal[Recorder]

  /** `body`'s result and what the driver reads on this thread did while
    * it ran.
    */
  def reads[A](body: => A): (A, Reads) = {
    val outer = recording.get()
    val mine = new Recorder
    recording.set(mine)
    try {
      val a = body
      (a, Reads(mine.files.toSeq, mine.rows, mine.footers, mine.decoded, mine.held))
    } finally {
      recording.set(outer)
      if (outer != null) {
        outer.files ++= mine.files; outer.rows += mine.rows; outer.footers += mine.footers
        outer.decoded += mine.decoded; outer.held = outer.held max mine.held
      }
    }
  }

  /** `body`'s result and the store files the driver reads on this thread
    * served while it ran ([[Reads]]`.files`), as absolute paths.
    */
  def opened[A](body: => A): (A, Seq[String]) = {
    val (a, r) = reads(body)
    (a, r.files)
  }

  /** The first `n` rows under `order`, as `orderBy(order: _*).limit(n)`
    * gives them: the bound of a read ([[rows]]), which then holds at
    * most `2n` rows for its result while they stream, besides the copies
    * of the one range it may be keeping ([[rangeMax]]).
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
    *
    * The rows of a byte range read again soon enough are kept
    * ([[cached]], [[again]]), so a later read of the same range runs
    * `keep` over them and decodes nothing. Adjacent ranges not kept are
    * decoded with one open of the reader, and split into ranges by the
    * row counts of their footer. The rows of a range not to be kept, or
    * heavier than [[rangeMax]], stream through `keep` as they decode and
    * only the rows kept are copied, so reading it holds no more than
    * [[rangeMax]] beyond the result. The rows returned are copies,
    * possibly the kept ones: read them, never change them.
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
      val all = layout(schema, partitions)
      lazy val unsafe = perThread(spark, all, "unsafe")(UnsafeProjection.create(all))
      val out = new Held(top.map(t => t.n -> ordering(spark, all, t.order)))
      val rec = Option(recording.get())
      files.foreach { f =>
        val path = Paths.get(dest, f)
        rec.foreach(_.files += path.toString)
        // what the reader needs, worked out only for a range not yet kept
        lazy val values = {
          val dirs = Option(Paths.get(dest, base).relativize(path).getParent)
          val named = dirs.toSeq.flatMap(d => (0 until d.getNameCount).map(d.getName(_).toString))
            .map(_.split("=", 2))
            .collect { case Array(k, v) => k -> ExternalCatalogUtils.unescapePathName(v) }.toMap
          InternalRow.fromSeq(parts.map(p =>
            Cast(Literal(named(p.name)), p.dataType, Some(timeZone(spark))).eval()))
        }
        lazy val file = SparkPath.fromPath(new HPath(path.toUri))
        val size = StoreFs.size(path)
        val name = path.toAbsolutePath.normalize.toString
        val spans = ranges(spark, path, size, prune)
        def key(s: Span): RangeKey = (open, name, size, s.start, s.end)
        val found = spans.map(s => cached.get(key(s)))
        // the rows of a run of spans not kept, each span kept while it fits
        def decode(run: Seq[Span]): Unit = {
          val it = open(PartitionedFile(values, file, run.head.start, run.last.end - run.head.start,
            Array.empty, 0L, size, Map.empty))
          try run.foreach { s =>
            var copies = if (again(key(s))) mutable.ArrayBuffer.empty[UnsafeRow] else null
            var weight = RangeBytes
            var n = 0L
            while (n < s.rows && it.hasNext) {
              val r = it.next()
              n += 1
              if (copies == null) { if (keep(r)) out.offer(unsafe(r).copy()) }
              else {
                val u = unsafe(r).copy()
                copies += u
                weight += RowBytes + u.getSizeInBytes
                if (weight > rangeMax) { copies = null; heavy(key(s)) }
                if (keep(u)) out.offer(u)
              }
            }
            rec.foreach { x => x.rows += n; x.decoded += n }
            if (copies != null) cached.put(key(s), copies.toArray)
          } finally it match { case c: AutoCloseable => c.close(); case _ => () }
        }
        var i = 0
        while (i < spans.size) found(i) match {
          case Some(kept) =>
            rec.foreach(_.rows += kept.length)
            kept.foreach(r => if (keep(r)) out.offer(r))
            i += 1
          case None =>
            var j = i + 1
            while (j < spans.size && found(j).isEmpty && spans(j).start == spans(j - 1).end) j += 1
            decode(spans.slice(i, j))
            i = j
        }
      }
      rec.foreach(r => r.held = r.held max out.peak)
      out.result
    }

  /** The rows offered: all of them in offer order, or with a
    * bound `(n, ordering)` the first `n` under the ordering, ties in offer
    * order — a stable sort's first `n`. Cutting back to those `n` whenever
    * twice as many are held keeps the ties' order and holds at most `2n`.
    * `peak` is the most rows held at once.
    */
  private final class Held(bound: Option[(Int, Ordering[InternalRow])]) {
    private val held = mutable.ArrayBuffer.empty[InternalRow]
    var peak = 0

    private def first(n: Int, o: Ordering[InternalRow]) = held.sorted(o).take(n)

    def offer(r: InternalRow): Unit = {
      bound.foreach { case (n, o) =>
        if (held.size - n >= n) { val kept = first(n, o); held.clear(); held ++= kept }
      }
      held += r
      peak = peak max held.size
    }

    def result: Seq[InternalRow] = bound.fold(held.toSeq) { case (n, o) => first(n, o).toSeq }
  }

  /** A byte range of a parquet file, from `start` to `end`: the reader
    * decodes the row groups whose midpoints lie in it. `rows` is their
    * row count, when the file's footer was read.
    */
  private final case class Span(start: Long, end: Long, rows: Long = Long.MaxValue)

  /** The byte ranges of the parquet file at `path` that hold the row
    * groups whose min/max statistics admit every one of `prune`: one per
    * admitted group, from its start to the next group's, so a group
    * decoded for one key set serves every later key set ([[cached]]).
    * The whole file when it holds one row group or no filter converts;
    * none when every group is ruled out.
    */
  private def ranges(spark: SparkSession, path: Path, size: Long,
                     prune: Seq[sources.Filter]): Seq[Span] = {
    val sql = spark.sessionState.conf
    val whole = Seq(Span(0L, size))
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
        val kept = groups.indices.filter(i => admitted.exists(_ eq groups(i)))
        def end(i: Int) = if (i + 1 < groups.size) groups(i + 1).getStartingPos else size
        def span(i: Int, start: Long) = Span(start, end(i), groups(i).getRowCount)
        if (groups.size == 1 && kept.size == 1) Seq(span(0, 0L))
        else if (groups.isEmpty) whole
        else kept.map(i => span(i, groups(i).getStartingPos))
      }
    }
  }

  /** Footers already read, by (absolute path, length). */
  private val footers = new Bounded[(String, Long), Option[ParquetMetadata]](4096)

  /** The heap a kept range and a kept row take beyond the rows' data:
    * the range's key and array; a row's object, its byte array's header
    * and its slot in the range's array (about 60 bytes).
    */
  private val RangeBytes = 256L
  private val RowBytes = 64L

  /** The most the kept rows of one range may weigh: a quarter of the
    * cache. A heavier range streams on every read. Tests lower it.
    */
  @volatile private[graft] var rangeMax: Long = Runtime.getRuntime.maxMemory / 64

  /** Rows already decoded, by the reader that decoded them — one per
    * (context, SQL confs, data layout, partition layout), so a session
    * that changes a parquet conf decodes under its own entries — and the
    * (absolute path, length, start, end) of the range read. Each range's
    * rows are compact copies weighed by their bytes; the cache holds at
    * most a sixteenth of the heap and drops the least recently used
    * ranges past it.
    */
  private val cached = new Bounded[RangeKey, Array[UnsafeRow]](
    Runtime.getRuntime.maxMemory / 16, rows => RangeBytes + rows.map(RowBytes + _.getSizeInBytes).sum)

  /** Ranges read and not kept, least recently read first, each with
    * whether it may be kept (not once its rows weighed more than
    * [[rangeMax]]): as many as the cache can hold ranges (at least 16, at
    * most 65 536).
    */
  private val seen = new java.util.LinkedHashMap[RangeKey, java.lang.Boolean](16, 0.75f, true)

  /** Whether range `k` is read again soon enough to be kept: whether it
    * was read and not kept while at most as many other ranges not kept
    * were read as the cache can hold. Copying a range's rows costs more
    * than streaming them (about twice the decode of an orders bucket at
    * ~sf1), so a range read once, or in a scan over more ranges than the
    * cache can hold, streams each time rather than being kept and evicted
    * unread.
    */
  private def again(k: RangeKey): Boolean = seen.synchronized {
    Option(seen.get(k)) match {
      case Some(light) =>
        if (light) seen.remove(k)
        light
      case None =>
        seen.put(k, true)
        val oldest = seen.keySet.iterator
        while (seen.size > math.max(16L, math.min(cached.capacity, 1L << 16))) {
          oldest.next(); oldest.remove()
        }
        false
    }
  }

  /** Marks range `k` as never to be kept. */
  private def heavy(k: RangeKey): Unit = seen.synchronized(seen.put(k, false))

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

/** A map that keeps its most recently used entries up to a total
  * `weight` of `max` (by default each entry weighs 1, so `max` counts
  * entries): for values derived from immutable inputs, such as a listed
  * file's footer. An entry heavier than `max` alone is not kept.
  */
private[graft] final class Bounded[K, V](max: Long, weight: V => Long = (_: V) => 1L) {
  // values with their weights, least recently used first
  private val m = new java.util.LinkedHashMap[K, (V, Long)](16, 0.75f, true)
  private var total = 0L

  def get(k: K): Option[V] = m.synchronized(Option(m.get(k)).map(_._1))

  /** How many entries it can hold at its entries' mean weight. */
  def capacity: Long = m.synchronized(if (total == 0) max else m.size.toLong * max / total)

  def put(k: K, v: V): Unit = {
    val w = weight(v)
    m.synchronized {
      Option(m.remove(k)).foreach(total -= _._2)
      if (w <= max) {
        m.put(k, v -> w)
        total += w
        val eldest = m.values.iterator
        while (total > max) { total -= eldest.next()._2; eldest.remove() }
      }
    }
  }

  /** Drops the entries whose key `p` accepts. */
  def removeKeys(p: K => Boolean): Unit = m.synchronized {
    val it = m.entrySet.iterator
    while (it.hasNext) {
      val e = it.next()
      if (p(e.getKey)) { total -= e.getValue._2; it.remove() }
    }
  }

  /** The value of `k`, computed by `v` (outside the lock) when absent. */
  def getOrElseUpdate(k: K, v: => V): V =
    get(k).getOrElse { val computed = v; put(k, computed); computed }
}
