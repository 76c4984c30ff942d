package org.apache.spark.sql

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column constructor so graft's native
  * Catalyst expressions (e.g. [[graft.functions.DotProduct]]) can be used
  * as ordinary `Column`s from the public DataFrame API.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Re-tags a batch DataFrame as a STREAMING one — what a v1 streaming
    * `Source.getBatch` must return (MicroBatchExecution asserts
    * `isStreaming`). Same bridge FileStreamSource uses internally
    * (`internalCreateDataFrame(rdd, schema, isStreaming = true)`).
    */
  def asStreaming(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** The live conf of the active SparkContext (`SparkContext.conf` and
    * `getActive` are `private[spark]`; the public `getConf` is a copy).
    * [[graft.GraftExtensions]] defaults static SQL confs in it before the
    * session's SharedState copies it.
    */
  def activeContextConf: Option[SparkConf] = SparkContext.getActive.map(_.conf)

  /** Runs `body` with the context's GLOBAL checkpoint dir set to `dir`
    * (when given), then puts back the EXACT prior value, None included.
    * `setCheckpointDir` cannot do the restore: it has no unset, and it
    * appends a fresh UUID subdirectory to whatever it is given
    * (`SparkContext.checkpointDir` is `private[spark]`).
    */
  def withCheckpointDir[A](sc: SparkContext, dir: Option[String])(body: => A): A = {
    val prev = sc.checkpointDir
    dir.foreach(sc.setCheckpointDir)
    try body finally if (dir.isDefined) sc.checkpointDir = prev
  }

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case _ => throw new IllegalArgumentException(s"$what must be an int literal")
  }

  /** The engine's native SQL function surface: (name, arity, builder).
    * Consumed by both registration paths — [[registerFunctions]] for an
    * already-built session and [[graft.GraftExtensions]] for
    * `spark.sql.extensions` injection at session build time.
    */
  val functionTable: Seq[(String, Int, Seq[Expression] => Expression)] = Seq(
    ("graft_dot", 2, e => graft.functions.DotProduct(e(0), e(1))),
    ("graft_token_hashes", 1, e => graft.functions.TokenHashes(e(0))),
    ("graft_shingle_hashes", 2, e =>
      graft.functions.ShingleHashes(e(0), intLit(e(1), "shingle width"))),
    ("graft_minhash_bands", 3, e =>
      graft.functions.MinHashBandHashes(
        e(0), intLit(e(1), "numPerm"), intLit(e(2), "rows"))),
    ("graft_simhash", 1, e => graft.functions.SimHashSig(e(0))))

  /** Arity-checked builder for one [[functionTable]] row. */
  def builderFor(name: String, arity: Int,
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      require(exprs.length == arity, s"$name takes exactly $arity arguments")
      build(exprs)
    }

  /** Registers graft's native expressions in the session's function
    * registry so the SQL surface can call them (`graft_dot(a, b)`,
    * `graft_token_hashes(arr)`, `graft_shingle_hashes(arr, n)`,
    * `graft_minhash_bands(arr, numPerm, rows)`, `graft_simhash(arr)`).
    */
  def registerFunctions(spark: SparkSession): Unit = {
    val registry =
      spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
    functionTable.foreach { case (name, arity, build) =>
      registry.createOrReplaceTempFunction(
        name, builderFor(name, arity, build), "built-in")
    }
  }
}
