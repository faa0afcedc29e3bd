package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.bridge

/** Static-nullability assertions for the engine's own builds. Kept
  * `private[graft]` on purpose: misuse is SILENT undefined behavior
  * (codegen reads garbage on a runtime null, never raises) — so the
  * assertion stays off the public Column API, the same scoping
  * rationale as the sorted-merge entry points in [[SortedMergeExprs]],
  * whose sorted-input contract likewise goes unverified at run time.
  */
private[graft] object Nullability {

  /** Assert a column (or lambda-variable field) non-null at the TYPE
    * level — Catalyst's `KnownNotNull`, which the Column API doesn't
    * expose. Used where a build guarantees non-nullness the analyzer
    * can't see (e.g. `transform` over `arrays_zip` of equal-length
    * arrays), so downstream codegen that specializes on static
    * nullability (containsNull) compiles without null branches.
    * CONTRACT: a runtime null under this assertion is undefined
    * behavior (reads garbage, never raises) — only wrap values that
    * are provably non-null by construction.
    */
  private[graft] def knownNotNull(c: Column): Column =
    bridge.column(
      org.apache.spark.sql.catalyst.expressions.KnownNotNull(bridge.expression(c)))
}
