package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `browse_url_from_repo_url` (/root/reference/src/vcs.rs via
  * graft.urls.Vcs.browseUrlFromRepoUrl) as a native Catalyst expression:
  * NULL when the browse URL is underivable. Replaces the last ScalaUDF in a
  * relational operator (the browse-certainty sync of
  * KgEngine.applyUrlProbes) — a ScalaUDF pays catalyst→Scala row conversion
  * and blocks the no-UDF plan policy; this evaluates on UTF8String in place.
  *
  * CodegenFallback is deliberate: the derivation walks the forge algebra
  * (per-host rules, path-segment surgery) — logic that cannot be inlined as
  * a Java string template without duplicating Vcs.scala. The expression only
  * ever runs on the valid-probed-Repository subset (a handful of rows per
  * probe batch), so the lost codegen span is measurement noise; correctness
  * parity with the Scala function is by construction (same call).
  */
case class BrowseUrlFromRepo(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "browse_url_from_repo"

  override protected def nullSafeEval(input: Any): Any = {
    val repo = input.asInstanceOf[UTF8String].toString
    graft.urls.UrlLite.parse(repo)
      .flatMap(u => graft.urls.Vcs.browseUrlFromRepoUrl(
        graft.urls.Vcs.VcsLocation(u, None, None)))
      .map(b => UTF8String.fromString(b.toString))
      .orNull
  }

  override protected def withNewChildInternal(newChild: Expression): BrowseUrlFromRepo =
    copy(child = newChild)
}

object BrowseUrlFromRepo {
  /** Registers `browse_url_from_repo(url)` with a session so it is usable
    * from `F.expr` and SQL text, once per session (same binding pattern as
    * `cosine_sim`).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier("browse_url_from_repo")))
      registry.createOrReplaceTempFunction(
        "browse_url_from_repo",
        { exprs: Seq[Expression] =>
          require(exprs.length == 1,
            s"browse_url_from_repo expects exactly 1 argument, got ${exprs.length}")
          BrowseUrlFromRepo(exprs.head)
        },
        "built-in")
  }
}
