package graft.spark.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.kernel.Extract

/** §4 stretch — extraction as a first-class Catalyst operator: a LogicalPlan
  * node, a planner Strategy, and a physical UnaryExecNode, registered through
  * SparkSessionExtensions. Semantically identical to ExtractJob.extractDF
  * (same kernel, same narrow no-shuffle shape — the operator simply maps child
  * partitions), but EXPLAIN now shows `GraftExtract` instead of an opaque
  * MapPartitions, the serde hops of the typed Dataset path disappear
  * (InternalRow in, UnsafeRow out), and planner rules can see through it.
  */
object ExtractPlan {

  val outputSchema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("bucket", IntegerType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("pages", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("ok", BooleanType, nullable = false)))

  /** Columns the kernel reads; everything else may be pruned below the node. */
  val RequiredInputs: Set[String] = Set("url", "html", "text")

  private def freshOutput(): Seq[Attribute] =
    outputSchema.map(f => AttributeReference(f.name, f.dataType, f.nullable)())

  /** Logical node: extract(child) with B url-hash buckets. `output` is a
    * constructor field so exprIds survive tree copies during analysis.
    */
  case class ExtractNode(
      child: LogicalPlan, numBuckets: Int,
      output: Seq[Attribute] = freshOutput()) extends UnaryNode {
    override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
      org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
    // declare the kernel's inputs so column pruning keeps url/html/text
    // (warc_ts/lang may be pruned away below this node)
    override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
      org.apache.spark.sql.catalyst.expressions.AttributeSet(
        child.output.filter(a => ExtractPlan.RequiredInputs.contains(a.name)))
    override protected def withNewChildInternal(newChild: LogicalPlan): ExtractNode =
      copy(child = newChild)
  }

  /** Physical operator: kernel over child partitions, no exchange. */
  case class GraftExtractExec(child: SparkPlan, numBuckets: Int, output: Seq[Attribute])
      extends UnaryExecNode {
    override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
      org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
    override protected def withNewChildInternal(newChild: SparkPlan): GraftExtractExec =
      copy(child = newChild)

    /** Per-partition map: the child's distribution survives. Propagate it
      * (remapping surviving columns' exprIds) so a downstream operator keyed
      * on a preserved column doesn't insert a pointless Exchange above us —
      * the default would report UnknownPartitioning.
      *
      * ONLY value-preserving columns may be remapped: `url` passes through
      * verbatim, but output `text` is the kernel's extraction RESULT — a
      * child hash-partitioned on input text says nothing about the
      * distribution of output text values, and claiming it would let
      * Catalyst elide a required Exchange (wrong groupBy/join results).
      */
    override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning = {
      import org.apache.spark.sql.catalyst.plans.physical._
      val valuePreserved = Set("url")
      val byName = output.filter(a => valuePreserved.contains(a.name))
        .map(a => a.name -> a).toMap
      val remap = child.output.flatMap(a => byName.get(a.name).map(a.exprId -> _)).toMap
      child.outputPartitioning match {
        case h: HashPartitioning
            if h.expressions.forall(_.references.forall(r => remap.contains(r.exprId))) =>
          h.copy(expressions = h.expressions.map(_.transform {
            case a: AttributeReference if remap.contains(a.exprId) => remap(a.exprId)
          }))
        case SinglePartition => SinglePartition
        case r: RoundRobinPartitioning => r
        case p => UnknownPartitioning(p.numPartitions)
      }
    }

    /** One kernel call per input row. A row is built in one reused
      * [[GenericInternalRow]] and copied out by the unsafe projection; a
      * one-page document's text is encoded to UTF-8 once and serves as both
      * `pages(0)` and `text` (the kernel's text is then that page).
      */
    override protected def doExecute(): RDD[InternalRow] = {
      val childOutput = child.output
      val urlIdx = childOutput.indexWhere(_.name == "url")
      val htmlIdx = childOutput.indexWhere(_.name == "html")
      val textIdx = childOutput.indexWhere(_.name == "text")
      require(urlIdx >= 0 && htmlIdx >= 0 && textIdx >= 0,
        s"GraftExtract child must expose url/html/text, got ${childOutput.map(_.name)}")
      val buckets = numBuckets
      val attrs = output
      child.execute().mapPartitions { iter =>
        val proj = GenerateUnsafeProjection.generate(attrs, attrs)
        val out = new GenericInternalRow(attrs.length)
        iter.map { row =>
          val url = row.getUTF8String(urlIdx)
          val html = if (row.isNullAt(htmlIdx)) null else row.getBinary(htmlIdx)
          val text = if (row.isNullAt(textIdx)) null else row.getUTF8String(textIdx).toString
          val r = Extract.extract(html, text)
          // same bucket as pmod(xxhash64(url), B): XXH64 of the UTF8 bytes, seed 42
          val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
            url.getBaseObject, url.getBaseOffset, url.numBytes, 42L)
          val bucket = {
            val m = (h % buckets).toInt
            if (m < 0) m + buckets else m
          }
          val pages = new Array[Any](r.pages.length)
          var i = 0
          while (i < pages.length) { pages(i) = UTF8String.fromString(r.pages(i)); i += 1 }
          // the projection copies `url` out before the input row moves on
          out.update(0, url)
          out.setInt(1, bucket)
          out.update(2, UTF8String.fromString(r.kind))
          out.update(3, new GenericArrayData(pages))
          out.update(4, if (pages.length == 1) pages(0) else UTF8String.fromString(r.text))
          out.setLong(5, if (html == null) 0L else html.length.toLong)
          out.setBoolean(6, r.ok)
          proj(out)
        }
      }
    }

    override def nodeName: String = "GraftExtract"
  }

  /** Planner strategy mapping the logical node to the physical operator. */
  object ExtractStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case n: ExtractNode =>
        GraftExtractExec(planLater(n.child), n.numBuckets, n.output) :: Nil
      case _ => Nil
    }
  }

  /** SparkSessionExtensions hook:
    * `SparkSession.builder().withExtensions(new GraftExtensions)` — or call
    * [[install]] on a live session.
    */
  class GraftExtensions extends (SparkSessionExtensions => Unit) {
    override def apply(e: SparkSessionExtensions): Unit =
      e.injectPlannerStrategy(_ => ExtractStrategy)
  }

  /** Register the strategy on an existing session (idempotent). The guard
    * must probe `experimental.extraStrategies` — the list we append to;
    * `planner.extraPlanningStrategies` only carries extension-injected
    * strategies, so probing it let every call stack another duplicate.
    */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(ExtractStrategy) &&
        !spark.sessionState.planner.extraPlanningStrategies.contains(ExtractStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ ExtractStrategy

  /** DataFrame entry point: pages relation -> extracted relation via the
    * custom operator (requires [[install]] first).
    */
  def extract(pages: org.apache.spark.sql.DataFrame, numBuckets: Int): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.GraftShim.ofRows(pages.sparkSession,
      ExtractNode(org.apache.spark.sql.GraftShim.logicalPlan(pages), numBuckets))
}
