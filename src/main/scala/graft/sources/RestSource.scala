package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** S3: REST/indexer source with query pushdown — a real DataSource V2
  * connector re-expressing the reference's GraphQL read path
  * (`lib/indexer.ts:45-183`, `lib/hive-api.ts:95-124`: every request
  * carries `where / orderBy / orderDirection / limit / offset`, and the
  * INDEXER evaluates them, not the client).
  *
  * The Spark-first translation: Catalyst plans the filter/sort/limit/
  * offset declaratively, and this connector volunteers to evaluate them
  * "endpoint-side" via the V2 pushdown hooks —
  * [[SupportsPushDownFilters]] (where), [[SupportsPushDownRequiredColumns]]
  * (the GraphQL selection set), [[SupportsPushDownTopN]]
  * (orderBy+limit), [[SupportsPushDownLimit]] and
  * [[SupportsPushDownOffset]] (paging) — so only the requested page of
  * the requested fields ever crosses the source boundary, exactly like
  * the reference's indexer. Filters the endpoint can't evaluate are
  * declined and Spark applies them client-side (correctness never
  * depends on the push).
  *
  * The "endpoint" is a JSONL snapshot directory (offline container — no
  * HTTP), which also gives the connector a scale story: an unsorted,
  * un-paged scan is split into `pageSize`-row page partitions
  * ([[RestBatch.planInputPartitions]]) and fetched in parallel — the
  * limit/offset page-walk a real indexer ingest would run, one request
  * per task. A pushed orderBy/offset/limit collapses to one partition,
  * because a globally ordered page is a single request.
  *
  * Options: `path` (JSONL file or directory of part files), `schema`
  * (DDL string), `pageSize` (page-partition rows, default 2000).
  */
class RestSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val s = StructType.fromDDL(
      Option(options.get("schema")).getOrElse(
        throw new IllegalArgumentException("RestSource requires a 'schema' DDL option")))
    validateSchema(s)
    s
  }

  /** The JSON row reader materializes exactly these types; anything else
    * (FLOAT, DATE, DECIMAL, …) would silently land as a string in an
    * InternalRow slot Catalyst reads as the declared type — fail at plan
    * time, not with a ClassCastException mid-query. Applied in BOTH
    * entry points: inferSchema (the 'schema' option) AND getTable —
    * supportsExternalMetadata() = true means a user-supplied
    * `.schema(…)` reaches getTable without inferSchema ever running,
    * which previously bypassed this guard entirely. */
  private def validateSchema(s: StructType): Unit = {
    val supported: Set[org.apache.spark.sql.types.DataType] =
      Set(LongType, IntegerType, DoubleType, BooleanType, StringType)
    val bad = s.fields.filterNot(f => supported.contains(f.dataType))
    require(bad.isEmpty,
      s"RestSource supports BIGINT/INT/DOUBLE/BOOLEAN/STRING columns only; " +
        s"unsupported: ${bad.map(f => s"${f.name} ${f.dataType.simpleString}").mkString(", ")}")
  }

  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    validateSchema(schema)
    new RestTable(schema, properties.asScala.toMap)
  }

  override def supportsExternalMetadata(): Boolean = true
}

object RestSource {
  /** What the "endpoint" actually received — the spec-visible mirror of
    * the reference's GraphQL variables. Driver-side only (build() runs on
    * the driver; local-mode tests read it to assert the push happened). */
  final case class Pushed(
      filters: Seq[Filter], columns: Seq[String],
      sort: Seq[SortKey], offset: Option[Int], limit: Option[Int])
  @volatile var lastPushed: Pushed = Pushed(Nil, Nil, Nil, None, None)

  /** Deterministic JSONL snapshot of a catalog table — the stand-in for
    * the remote endpoint's dataset, one [[graft.Staged]] directory per
    * (sfDir, table). The freshness token: a parquet source's
    * [[graft.Tables.newestMtime]], so a snapshot rebuilds when its source
    * is regenerated (test data regenerated between runs), whatever the
    * sfDir's scheme; a `jdbc:` table-set locator has no mtime surface, so
    * there the token is the corpus `count:maxId` — the same explicit-token
    * discipline as the versioned incremental indexes (round 16; this is
    * what lets the two REST queries run against a relational primary).
    * Either way a stale snapshot would silently serve old data while the
    * oracle reads the fresh store. */
  def snapshot(spark: SparkSession, sfDir: String, table: String): String = {
    val dir = graft.Staged.dirFor("graft-rest", s"$sfDir/$table")
    if (sfDir.startsWith("jdbc:")) {
      val t = graft.Tables(spark, sfDir).byName(table)
      // freshness token = (row count, max of the first integral column)
      // — the full `_incr` (split, count) discipline, one aggregate per
      // snapshot check: count alone would serve a STALE snapshot after
      // a same-cardinality regeneration whose id range moved (review
      // r16); a same-count same-max in-place mutation remains out of
      // contract, the same granularity limit the index families state.
      val idCol = t.schema.fields.collectFirst {
        case f if f.dataType == org.apache.spark.sql.types.LongType ||
          f.dataType == org.apache.spark.sql.types.IntegerType => f.name
      }
      import org.apache.spark.sql.functions.{count, lit, max}
      val aggs = count(lit(1)) +: idCol.map(c => max(c)).toSeq
      val r = t.agg(aggs.head, aggs.tail: _*).head()
      val token = s"${r.getLong(0)}:" +
        (if (idCol.isEmpty || r.isNullAt(1)) "-" else r.get(1).toString)
      graft.Staged.ensure(dir, token) {
        t.write.mode("overwrite").json(dir)
      }
      // each distinct jdbc URL mints its own snapshot key (test runs use
      // fresh per-run Derby paths), and nothing else ever deletes them —
      // reap SIBLING snapshot dirs UNUSED for > 7 days so /tmp cannot
      // grow without bound across rounds (review r16; a hit touches the
      // marker on every snapshot() call, so quiet == unused and a live
      // session's snapshot can never age into the reap)
      val parent = new java.io.File(dir).getParentFile
      Option(parent.listFiles()).toSeq.flatten
        .filter(d => d.isDirectory && d.getName != new java.io.File(dir).getName)
        .filter { d =>
          val newest = Option(d.listFiles()).toSeq.flatten
            .map(_.lastModified).foldLeft(d.lastModified)(math.max)
          System.currentTimeMillis() - newest > 7L * 24 * 3600 * 1000
        }
        .foreach(d => scala.util.Try(
          org.apache.commons.io.FileUtils.deleteDirectory(d)))
    } else {
      val src = s"$sfDir/$table.parquet"
      graft.Staged.ensure(dir, graft.Tables.newestMtime(spark, src).toString) {
        // route CATALOG tables through the Tables facade (NOT a raw
        // parquet read) so both tiers snapshot the SAME schema: byName
        // applies the events ts-normalization and the embeddings vector
        // decode identically on either store, closing the latent
        // cross-tier divergence a raw read here would create if such a
        // fixture is ever added (review r17; for today's snapshotted
        // tables byName == raw load). Non-catalog names (synthetic test
        // fixtures) keep the raw read — they have no normalized form.
        val t =
          if (graft.Tables.catalogTables.contains(table))
            graft.Tables(spark, sfDir).byName(table)
          else spark.read.parquet(src)
        t.write.mode("overwrite").json(dir)
      }
    }
    dir
  }
}

/** Sort key in plain serializable form (connector SortOrder is not). */
final case class SortKey(field: String, descending: Boolean, nullsFirst: Boolean)

final class RestTable(schema: StructType, props: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String = s"rest(${props.getOrElse("path", "?")})"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RestScanBuilder(schema, props ++ options.asScala)
}

final class RestScanBuilder(fullSchema: StructType, props: Map[String, String])
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownTopN
    with SupportsPushDownLimit
    with SupportsPushDownOffset {

  private var pushedF: Array[Filter] = Array.empty
  private var projected: StructType = fullSchema
  private var sortKeys: Seq[SortKey] = Nil
  private var offsetN: Option[Int] = None
  private var limitN: Option[Int] = None

  /** The endpoint's `where` vocabulary (indexer.ts `where` args): accept
    * what a key-value indexer can evaluate, decline the rest — Spark
    * re-applies declined filters above the scan. */
  private def supported(f: Filter): Boolean = f match {
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual | _: IsNotNull | _: IsNull => true
    case In(_, vs) => vs != null
    case _ => false // And/Or/StartsWith/… → client-side
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (push, keep) = filters.partition(supported)
    pushedF = push
    keep // residuals Spark must evaluate
  }
  override def pushedFilters(): Array[Filter] = pushedF

  override def pruneColumns(requiredSchema: StructType): Unit =
    projected = requiredSchema

  override def pushTopN(orders: Array[SortOrder], limit: Int): Boolean = {
    val keys = orders.toSeq.flatMap { o =>
      o.expression() match {
        case nr: NamedReference if nr.fieldNames().length == 1 =>
          Some(SortKey(nr.fieldNames()(0),
            o.direction() == SortDirection.DESCENDING,
            o.nullOrdering() == org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_FIRST))
        case _ => None
      }
    }
    if (keys.length != orders.length) false // complex sort expr → client-side
    else { sortKeys = keys; limitN = Some(limit); true }
  }
  override def isPartiallyPushed(): Boolean = false // endpoint sorts fully

  override def pushLimit(limit: Int): Boolean = { limitN = Some(limit); true }

  override def pushOffset(offset: Int): Boolean = { offsetN = Some(offset); true }

  override def build(): Scan = {
    RestSource.lastPushed = RestSource.Pushed(
      pushedF.toSeq, projected.fieldNames.toSeq, sortKeys, offsetN, limitN)
    // option keys arrive lowercased through CaseInsensitiveStringMap
    val pageSize = props.getOrElse("pagesize", "2000").toInt
    // validated here, at planning, where the option name is in hand: 0
    // would reach the partition math as a bare divide-by-zero and a
    // negative value makes every page's [lo, hi) empty — a silently
    // EMPTY result, the worst failure mode for a source (r13 sweep)
    require(pageSize > 0, s"rest source: pageSize must be positive, got $pageSize")
    val path = props.getOrElse("path",
      throw new IllegalArgumentException(
        "RestSource requires a 'path' option (JSONL file or directory)"))
    new RestScan(path, fullSchema, projected, pushedF.toSeq,
      sortKeys, offsetN, limitN, pageSize)
  }
}

final class RestScan(
    path: String, fullSchema: StructType, projected: StructType,
    filters: Seq[Filter], sort: Seq[SortKey],
    offset: Option[Int], limit: Option[Int], pageSize: Int)
    extends Scan with Batch {

  override def readSchema(): StructType = projected
  override def toBatch: Batch = this
  override def description(): String =
    s"RestScan path=$path PushedFilters=[${filters.mkString(", ")}] " +
      s"PushedSort=[${sort.mkString(", ")}] PushedOffset=$offset PushedLimit=$limit " +
      s"ReadColumns=${projected.fieldNames.mkString("[", ",", "]")}"

  private def files(): Seq[String] = {
    val f = new java.io.File(path)
    if (f.isFile) Seq(f.getPath)
    else {
      // listFiles() is null for a missing/unreadable path (e.g. the tmp
      // snapshot was cleaned between plan and execution) — fail with the
      // real cause, not a bare NullPointerException
      val listed = f.listFiles()
      if (listed == null)
        throw new java.io.FileNotFoundException(
          s"RestSource snapshot not found or unreadable: $path")
      listed.filter(x => x.isFile && x.getName.startsWith("part-"))
        .map(_.getPath).sorted.toSeq
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val fs = files()
    if (sort.nonEmpty || offset.isDefined || limit.isDefined)
      // an ordered/paged request is one endpoint call
      Array(RestPage(fs, 0L, Long.MaxValue))
    else {
      // parallel page-walk: count each file once (the endpoint's
      // totalCount), then one limit/offset page per task. Each page keeps
      // only the files overlapping its range, with the line range
      // rebased onto that sublist — so a page read costs O(pageSize),
      // instead of every reader re-walking the whole snapshot from line 0
      // (O(pages × total) overall).
      // memoized per (path, mtime, length): the snapshot is immutable
      // between rebuilds, and an uncached count re-reads every byte
      // serially ON THE DRIVER at every re-plan of every unsorted query
      // (the bench runs the same scan dozens of times) — r13 sweep
      val counts = fs.map(p => (p, RestScan.lineCount(p)))
      val total = counts.iterator.map(_._2).sum
      val pages = math.max(1L, (total + pageSize - 1) / pageSize)
      Array.tabulate(pages.toInt) { i =>
        val lo = i.toLong * pageSize
        val hi = math.min(total, (i + 1L) * pageSize)
        val sel = Seq.newBuilder[String]
        var fileStart = 0L
        var firstStart = -1L
        for ((p, c) <- counts) {
          if (fileStart < hi && fileStart + c > lo) {
            if (firstStart < 0) firstStart = fileStart
            sel += p
          }
          fileStart += c
        }
        if (firstStart < 0) RestPage(Nil, 0L, 0L) // empty snapshot
        else RestPage(sel.result(), lo - firstStart, hi - firstStart)
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RestReaderFactory(fullSchema, projected, filters,
      sort, offset, limit)
}

object RestScan {
  /** Line counts memoized by (path, mtime, length) — identity of an
    * immutable snapshot file. Bounded clear-all at 4096 entries (the
    * Sinks manifest-cache rule): snapshots are few, the cap is a leak
    * guard, and on overflow a re-count is a cheap re-read. */
  private val lineCounts =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Long]()
  private[sources] def lineCount(p: String): Long = {
    val f = new java.io.File(p)
    val key = (p, f.lastModified(), f.length())
    if (lineCounts.size() > 4096) lineCounts.clear()
    lineCounts.computeIfAbsent(key, { _ =>
      val src = scala.io.Source.fromFile(p, "UTF-8")
      try src.getLines().size.toLong finally src.close()
    })
  }
}

/** A page of the snapshot: line range [startLine, endLine) counted over
  * the concatenation of `files` (only the files the page overlaps). */
final case class RestPage(files: Seq[String], startLine: Long, endLine: Long)
    extends InputPartition

final class RestReaderFactory(
    fullSchema: StructType, projected: StructType, filters: Seq[Filter],
    sort: Seq[SortKey], offset: Option[Int], limit: Option[Int])
    extends PartitionReaderFactory {
  // StructType is Serializable (this factory already ships Seq[Filter]
  // and Seq[SortKey] the same way), so the schemas travel as-is — the
  // old DDL round-trip needed a special case for the zero-column
  // count() pruning (empty DDL doesn't re-parse) and was one more
  // encoding that could drift from the planned schema (r13 sweep)
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new RestReader(partition.asInstanceOf[RestPage],
      fullSchema, projected, filters, sort, offset, limit)
}

/** Evaluates the pushed request exactly like the endpoint would: parse →
  * where → orderBy → offset → limit → selection set. */
final class RestReader(
    page: RestPage, fullSchema: StructType, projected: StructType,
    filters: Seq[Filter], sort: Seq[SortKey],
    offset: Option[Int], limit: Option[Int])
    extends PartitionReader[InternalRow] {

  private val mapper = new ObjectMapper()
  private val sources = scala.collection.mutable.ArrayBuffer.empty[scala.io.Source]

  // name → type built once: typeOf sits on the connector's hot path
  // (every pushed-filter eval, both sides of every sort comparison, and
  // every projected field of every emitted row) — a linear
  // fields.find per access is O(|schema|) string compares multiplied by
  // all of that (r13 sweep)
  private val typeByName: Map[String, DataType] =
    fullSchema.fields.map(f => f.name -> f.dataType).toMap
  private def typeOf(field: String): DataType =
    typeByName.getOrElse(field, StringType)

  /** Typed extraction with SPARK's JSON reading semantics, not Jackson's
    * coercions: asLong/asBoolean silently turn a non-conforming value
    * ({"n_chars":"oops"} under BIGINT) into 0/false — a pushed filter
    * then silently drops or keeps the wrong rows and IsNotNull reads
    * TRUE for what Spark's own reader surfaces as null. Non-conforming
    * values are null here, like a PERMISSIVE from_json (r13 sweep).
    * Integral bounds are checked (canConvertToLong/Int); STRING accepts
    * any scalar's literal text (Spark keeps the raw token for a string
    * field) and a container's JSON text. */
  private def value(n: JsonNode, field: String): Any = {
    val v = n.get(field)
    if (v == null || v.isNull) null
    else typeOf(field) match {
      // isIntegralNumber, not just canConvertToLong: the latter is only
      // a RANGE check and would round 700.5 into a fabricated 700
      case LongType =>
        if (v.isIntegralNumber && v.canConvertToLong) v.asLong() else null
      case IntegerType =>
        if (v.isIntegralNumber && v.canConvertToInt) v.asInt() else null
      case DoubleType =>
        if (v.isNumber) v.asDouble()
        // the textual non-finite forms Spark's OWN JSON round-trip uses:
        // the writer emits NaN/Infinity doubles as quoted strings and
        // the PERMISSIVE reader parses exactly this token set back — a
        // bare isNumber check nulled rows Spark itself would keep, so a
        // pushed IsNotNull/comparison silently dropped them (r13 third
        // sweep). Any other text stays null (malformed, like from_json).
        else if (v.isTextual) v.asText() match {
          case "NaN" => Double.NaN
          case "Infinity" | "+Infinity" | "+INF" => Double.PositiveInfinity
          case "-Infinity" | "-INF" => Double.NegativeInfinity
          case _ => null
        }
        else null
      case BooleanType => if (v.isBoolean) v.asBoolean() else null
      case _ => if (v.isContainerNode) v.toString else v.asText()
    }
  }

  /** Spark-semantics comparator for pushed filter/TopN evaluation. The
    * source TRUSTS its pushdown (residual filters are removed,
    * isPartiallyPushed = false), so every ordering decision here must
    * match what Spark itself would have computed:
    * — strings compare as UTF-8 BYTES (UTF8String's binary order);
    *   Java's UTF-16 code-unit compareTo diverges above the BMP, where
    *   a supplementary char's surrogates (e.g. U+1F600 → D83D DE00)
    *   sort below BMP chars like U+FB00 that UTF-8 orders first;
    * — doubles normalize -0.0 to 0.0 before comparing (SQL double
    *   equality treats them equal; Double.compare does not), while
    *   keeping Double.compare's NaN-greatest/NaN==NaN, which IS
    *   Spark's semantics. */
  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: Long, y: Number) => java.lang.Long.compare(x, y.longValue())
    case (x: Int, y: Number) => java.lang.Long.compare(x.toLong, y.longValue())
    case (x: Double, y: Number) =>
      java.lang.Double.compare(norm0(x), norm0(y.doubleValue()))
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case (x, y) => utf8Cmp(x.toString, y.toString)
  }

  private def norm0(d: Double): Double = if (d == 0.0d) 0.0d else d

  // UTF8String.compareTo IS Spark's binary string order — delegate to
  // it rather than hand-roll a second copy of the semantics (r13 sweep)
  private def utf8Cmp(a: String, b: String): Int =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  // each arm extracts the field ONCE — the old `value(n,a) != null &&
  // cmp(value(n,a), v)` form paid the JSON lookup + type dispatch + box
  // twice per row per filter, and In re-extracted per list element
  private def eval(f: Filter, n: JsonNode): Boolean = f match {
    case EqualTo(a, v) => val x = value(n, a); x != null && cmp(x, v) == 0
    case GreaterThan(a, v) => val x = value(n, a); x != null && cmp(x, v) > 0
    case GreaterThanOrEqual(a, v) => val x = value(n, a); x != null && cmp(x, v) >= 0
    case LessThan(a, v) => val x = value(n, a); x != null && cmp(x, v) < 0
    case LessThanOrEqual(a, v) => val x = value(n, a); x != null && cmp(x, v) <= 0
    case IsNotNull(a) => value(n, a) != null
    case IsNull(a) => value(n, a) == null
    case In(a, vs) => val x = value(n, a); x != null && vs.exists(v => cmp(x, v) == 0)
    case _ => true // unreachable: unsupported filters were declined
  }

  private def ordering: Ordering[JsonNode] = new Ordering[JsonNode] {
    override def compare(x: JsonNode, y: JsonNode): Int = {
      for (k <- sort) {
        val (a, b) = (value(x, k.field), value(y, k.field))
        // null placement is ABSOLUTE in Spark's SortOrder (NULLS FIRST
        // means first in the output, whatever the direction), so only
        // the non-null value comparison takes the descending sign —
        // negating the null branches too would flip `col.desc`'s default
        // NULLS LAST into nulls-first and return null rows from a
        // pushed desc top-k
        val signed =
          if (a == null && b == null) 0
          else if (a == null) { if (k.nullsFirst) -1 else 1 }
          else if (b == null) { if (k.nullsFirst) 1 else -1 }
          else if (k.descending) -cmp(a, b)
          else cmp(a, b)
        if (signed != 0) return signed
      }
      0
    }
  }

  private def lines(): Iterator[JsonNode] = {
    val all = page.files.iterator.flatMap { p =>
      val src = scala.io.Source.fromFile(p, "UTF-8")
      sources += src
      src.getLines()
    }
    // Long line counter, not zipWithIndex: the Int index wraps negative
    // past 2^31-1 lines and would silently drop every later row — the
    // page ranges are Long for exactly this scale. takeWhile, not a
    // pure filter: once idx passes endLine nothing further can match,
    // and without the cut every page task would walk its files to EOF —
    // O(pages × total) over a single-file snapshot, the exact re-walk
    // the page rebase exists to avoid. Each task is O(endLine).
    var idx = -1L
    all.map { line => idx += 1; line }
      .takeWhile(_ => idx < page.endLine)
      .filter(_ => idx >= page.startLine)
      .map(mapper.readTree)
  }

  private val iter: Iterator[InternalRow] = {
    var matched = lines().filter(n => filters.forall(eval(_, n)))
    if (sort.nonEmpty) matched = limit match {
      // bounded top-k, not a full materialize+sort: pushTopN always
      // carries a limit (which already includes the offset), and the
      // single ordered partition would otherwise buffer EVERY matching
      // row in one task's heap — O(n log n) time and an OOM risk at
      // snapshot scale, vs O(n log k) / O(k) for a size-k max-heap that
      // evicts the worst-ordered element as it fills (r13 sweep)
      case Some(k) =>
        val heap = new java.util.PriorityQueue[JsonNode](
          math.max(1, k), ordering.reverse)
        matched.foreach { n =>
          heap.offer(n)
          if (heap.size() > k) heap.poll()
        }
        heap.asScala.toVector.sorted(ordering).iterator
      case None => matched.toVector.sorted(ordering).iterator
    }
    // Spark's paging convention (V2ScanRelationPushDown): the pushed
    // limit already INCLUDES the offset (LIMIT l OFFSET o arrives as
    // pushLimit(o+l) + pushOffset(o)), so the page is take-then-drop
    limit.foreach(l => matched = matched.take(l))
    offset.foreach(o => matched = matched.drop(o))
    val fields = projected.fields // hoisted: no per-row tuple-array alloc
    matched.map { n =>
      val out = new GenericInternalRow(fields.length)
      var i = 0
      while (i < fields.length) {
        out.update(i, value(n, fields(i).name) match {
          case s: String => UTF8String.fromString(s)
          case other => other
        })
        i += 1
      }
      out
    }
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (iter.hasNext) { current = iter.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = sources.foreach(_.close())
}
