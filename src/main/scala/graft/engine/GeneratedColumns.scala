package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.engine.SqliteDdl.GeneratedDef

/** Evaluation of SQLite generated columns (3.31,
  * lang_createtable.html#gencol) over staged DataFrames.
  *
  * A generated column's expression may reference other generated
  * columns — including LATER-declared ones (probed: `s1 AS (s2+1),
  * s2 AS (a*2)` works) — so evaluation follows dependency order, and a
  * circular reference throws SQLite's own error text at evaluation
  * time (probed: CREATE succeeds, the first write errors
  * `generated column loop on "<col>"`). */
private[engine] object GeneratedColumns {

  /** Dependency-sorted copy of `gens`. Cycle → SQLite's error, naming
    * the column whose expansion re-entered the in-progress stack. */
  def topoOrder(gens: Seq[GeneratedDef]): Seq[GeneratedDef] = {
    if (gens.lengthCompare(2) < 0) return gens
    val byName = gens.map(g => g.name.toLowerCase -> g).toMap
    // referenced generated columns, by unquoted-identifier word scan
    // with string literals blanked (quoted identifiers in a generated
    // expr are rare enough to accept the miss — worst case is SQLite's
    // declaration-order evaluation, which covers back-references)
    def deps(g: GeneratedDef): Seq[String] = {
      val blanked = SqlLexer.blankLiterals(g.expr).toLowerCase
      byName.keys.filter(n => n != g.name.toLowerCase &&
        ("(?<![a-z0-9_])" + java.util.regex.Pattern.quote(n) + "(?![a-z0-9_])")
          .r.findFirstIn(blanked).isDefined).toSeq
    }
    val done = scala.collection.mutable.LinkedHashSet[String]()
    val inStack = scala.collection.mutable.Set[String]()
    val out = Seq.newBuilder[GeneratedDef]
    def visit(g: GeneratedDef): Unit = {
      val key = g.name.toLowerCase
      if (done.contains(key)) return
      if (inStack.contains(key))
        throw new IllegalStateException(
          s"""generated column loop on "${g.name}"""")
      inStack += key
      deps(g).foreach(d => visit(byName(d)))
      inStack -= key
      done += key
      out += g
    }
    gens.foreach(visit)
    out.result()
  }

  /** Recompute generated columns on `df` from their expressions (cast
    * to the column's storage type), in dependency order. `only`
    * restricts to a name subset (ingest recomputes just the VIRTUAL
    * columns — STORED values in a real file are trusted, as SQLite
    * trusts them on read); null means all. Column positions are
    * preserved. */
  def recompute(spark: SparkSession, df: DataFrame, schema: StructType,
      gens: Seq[GeneratedDef], only: Set[String] = null): DataFrame =
    topoOrder(gens).foldLeft(df) { (acc, g) =>
      if (only != null && !only.contains(g.name.toLowerCase)) acc
      else {
        val field = schema.fields.find(_.name.equalsIgnoreCase(g.name)).getOrElse(
          throw new IllegalStateException(s"generated column ${g.name} not in schema"))
        acc.withColumn(field.name,
          SqliteDialect.expr(spark, g.expr).cast(field.dataType))
      }
    }
}
