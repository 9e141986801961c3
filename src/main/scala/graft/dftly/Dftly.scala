package graft.dftly

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Public API — the Spark-native equivalent of the reference's `Parser`
  * entry points (reference: src/dftly/parser.py:224-384).
  *
  *   - `toColumns(yaml)`         ≙ `Parser.to_polars(yaml)` — the main API
  *   - `expr(s)`                 ≙ `Parser.expr_to_polars(s)`
  *   - `parse(value)`            ≙ `Parser()(value)` — programmatic core
  *   - `select(df, yaml)`        ≙ `df.select(**Parser.to_polars(yaml))`
  *
  * All three input forms are accepted everywhere: string form (parsed by the
  * Lark-equivalent grammar), dict/YAML base form (short or resolved), and
  * class form ([[Node]] instances pass through).
  */
object Dftly {

  /** YAML text / pre-loaded map → ordered (outputName, Column) pairs. */
  def toColumns(yaml: String): Seq[(String, Column)] =
    // the ACTIVE parser, not `default`: inside `parser.withActive { ... }`
    // this overload must keep resolving custom nodes
    toColumns(yaml, DftlyParser.active.value)

  /** Programmatic form: an already-loaded ordered map (or any Scala Map). */
  def toColumns(exprs: Seq[(String, Any)]): Seq[(String, Column)] =
    exprs.map { case (name, v) => name -> Compiler.compile(parse(v)).as(name) }

  /** Parse any supported form into the AST (reference: parser.py:178-222). */
  def parse(value: Any): Node = DictParser.parse(value)

  /** Parse with a custom registry (reference `Parser(registered_nodes=...)`,
    * parser.py:154-176): `DftlyParser.withDefaults("clamp" -> spec)`.
    */
  def parse(value: Any, parser: DftlyParser): Node = parser.parse(value)

  /** [[toColumns]] under a custom node registry. Like the reference's
    * `Parser.to_polars` (parser.py:329-334), a string that names an existing
    * file is read and parsed as that file's YAML.
    */
  def toColumns(yaml: String, parser: DftlyParser): Seq[(String, Column)] =
    parser.withActive(toColumns(loadOpMap(yaml)))

  /** [[select]] under a custom node registry — custom nodes work in both the
    * YAML dict form and string-form function calls.
    */
  def select(df: DataFrame, yaml: String, parser: DftlyParser): DataFrame =
    parser.withActive(select(df, loadOpMap(yaml)))

  /** The op-map of YAML text, or of the YAML file that `yaml` names. */
  private def loadOpMap(yaml: String): Seq[(String, Any)] = {
    val text =
      if (yaml.length < 4096 && !yaml.contains('\n') &&
        java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(yaml)))
        java.nio.file.Files.readString(java.nio.file.Paths.get(yaml))
      else yaml
    Yaml.loadExprMap(text)
  }

  /** Single string-form expression → Column (reference: parser.py:357-384). */
  def expr(s: String): Column = Compiler.compile(parse(s))

  /** Compile one parsed node. `schema` is unused: every type-directed
    * choice is made on the types the analyzer resolves ([[Compiler]]); the
    * parameter stays for source compatibility.
    */
  def compile(node: Node, schema: Option[StructType] = None): Column =
    Compiler.compile(node)

  /** Apply a YAML op-map to a dataframe in a single `select` — the flagship
    * usage (reference: README.md:80-93). `+`, `-` and `/` choose their
    * lowering by the types the analyzer resolves against `df`, as in every
    * other entry point.
    */
  def select(df: DataFrame, yaml: String): DataFrame =
    select(df, yaml, DftlyParser.active.value)

  def select(df: DataFrame, exprs: Seq[(String, Any)]): DataFrame =
    df.select(toColumns(exprs).map(_._2): _*)

  /** Serialize an AST back to the dict/YAML form (total; round-trips through
    * [[parse]]). Beyond-reference: enables programmatic pipeline builders.
    */
  def renderDict(node: Node): Any = Render.toDict(node)

  /** Serialize an AST to the string form where the grammar can express it
    * (throws [[RenderError]] otherwise); round-trips through [[parse]].
    */
  def renderExpr(node: Node): String = Render.toExprString(node)

  /** Columns referenced by an expression in any form — useful for pre-flight
    * schema checks (reference: base.py:421-445).
    */
  def referencedColumns(value: Any): Set[String] = parse(value).referencedColumns

  /** Register the string form as a SQL function: `dftly('<expr>')` embeds a
    * dftly expression anywhere Spark SQL accepts one —
    * `SELECT dftly('$price * (1 - $discount)') AS rev FROM t`. The argument
    * must be a literal; column references inside compile to unresolved
    * attributes that the analyzer then resolves against the enclosing query.
    */
  def registerSql(spark: org.apache.spark.sql.SparkSession): Unit =
    registerSql(spark, DftlyParser.default)

  /** [[registerSql]] bound to a custom registry: `dftly('clamp($x, 0, 10)')`
    * resolves nodes registered on `parser` (captured at registration time).
    */
  def registerSql(spark: org.apache.spark.sql.SparkSession, parser: DftlyParser): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dftly",
      exprs => {
        require(exprs.length == 1, "dftly(<expression string literal>) takes one argument")
        val s = exprs.head.eval() match {
          case u: org.apache.spark.unsafe.types.UTF8String => u.toString
          case other => throw new IllegalArgumentException(
            s"dftly() needs a literal string; got $other")
        }
        org.apache.spark.sql.graft.ColumnBridge.convertedExpression(
          Compiler.compile(parser.parse(s)))
      },
      "built-in")

  /** Pre-flight validation: parse every expression and report referenced
    * columns missing from the schema, per output name. Empty result = the
    * op-map will resolve. (The reference validates nothing before execution;
    * this is deliberate beyond-reference UX — at 100 TB you want the name
    * typo before the cluster spins up, not an hour in.) Names match with
    * the resolver of the active conf (`spark.sql.caseSensitive`), as the
    * analyzer matches them.
    */
  def missingColumns(schema: StructType, yaml: String): Map[String, Set[String]] = {
    val same = SQLConf.get.resolver
    Yaml.loadExprMap(yaml).flatMap { case (name, v) =>
      val missing = parse(v).referencedColumns.filterNot(c => schema.fieldNames.exists(same(_, c)))
      if (missing.isEmpty) None else Some(name -> missing)
    }.toMap
  }

  /** [[missingColumns]] under a custom node registry. */
  def missingColumns(
      schema: StructType, yaml: String, parser: DftlyParser): Map[String, Set[String]] =
    parser.withActive(missingColumns(schema, yaml))
}
