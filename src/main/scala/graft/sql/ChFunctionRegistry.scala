package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

/** ClickHouse function-name surface registered onto Spark's
  * FunctionRegistry as Catalyst expression builders — the Spark
  * rendering of the reference's name registration in
  * src/Functions/registerFunctions.cpp and
  * src/AggregateFunctions/registerAggregateFunctions.cpp, one family
  * module per reference function family.
  *
  * Builders resolve to codegen'd built-in expressions or static kernels.
  * Stand-in hash functions are name-compatible, NOT value-compatible with
  * the reference (SURVEY §7 hard-parts: never pin hash values in tests).
  */
object ChFunctionRegistry {

  /** The function family modules, one per reference src/Functions family;
    * each defines its names once, as a sequence of (name, builder). */
  private def families: Seq[Seq[(String, ChBuild.Builder)]] = Seq(
    ChConversions.builders, ChDateTime.builders, ChStrings.builders,
    ChStringSearch.builders, ChHashes.builders, ChMathBits.builders,
    ChAggregates.builders, ChBitmapSketch.builders, ChUrlIpGeo.builders,
    ChIntrospection.builders, ChRegistryArrays.builders,
    ChRegistryWide.builders, Dictionaries.builders)

  /** One name → builder map from the module sequences. A name defined
    * twice fails here, listing every such name — the reference's
    * FunctionFactory rejects a duplicate registration the same way. */
  private[graft] def assemble(
      modules: Seq[Seq[(String, ChBuild.Builder)]]): Map[String, ChBuild.Builder] = {
    val all = modules.flatten
    val dups = all.groupBy(_._1).collect { case (n, defs) if defs.size > 1 => n }
    require(dups.isEmpty,
      s"function names defined more than once: ${dups.toSeq.sorted.mkString(", ")}")
    all.toMap
  }

  /** Full surface: every family module's names. */
  val builders: Map[String, Seq[Expression] => Expression] = assemble(families)

  /** Names registered even though a Spark built-in of the same name
    * exists, because the REFERENCE semantics differ from the built-in's:
    * monthName returns the full month name ('March', toCustomWeek.cpp
    * dateName path) where Spark 4's monthname() abbreviates ('Mar').
    * No other builder name is a Spark built-in (ChRegistryLayoutSpec):
    * a built-in with CH-identical semantics (hex, nullif, median, …)
    * resolves natively and gets no builder, and one whose semantics
    * differ needs the same explicit entry here. */
  val overrideBuiltins: Set[String] = Set("monthname")

  private val installedSessions =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean])

  /** Install the builders into the session's function registry
    * (idempotent per session). */
  def install(spark: SparkSession): Unit = synchronized {
    if (installedSessions.contains(spark)) return // idempotent: no re-register
    // TLD lists also register through CREATE NAMED COLLECTION (the
    // analog of TLDListsHolder's config-named list files)
    graft.functions.TldLists.collectionProvider =
      name => ClickHouseSql.namedCollection(name)
    graft.functions.GeoBases.collectionProvider =
      name => ClickHouseSql.namedCollection(name)
    graft.functions.NlpDictionaries.collectionProvider =
      name => ClickHouseSql.namedCollection(name)
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
    installedSessions.add(spark)
  }
}
