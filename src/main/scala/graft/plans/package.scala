package graft

/** Custom Catalyst planner components (LogicalPlan / Rule /
  * SparkStrategy / SparkPlan). Exactly one lives here —
  * [[graft.plans.TopKPerKey]] with [[graft.plans.TopKStrategy]] — the
  * one operator whose semantics the built-ins express only with a
  * full per-group sort (see its scaladoc); callers reach it via
  * [[graft.plans.TopK.perKey]], and q34 oracle-checks it against the
  * window formulation. Everything else deliberately stays out:
  *
  * The survey's conclusion (SURVEY.md §4.2) held through the whole
  * round-1 build: every operator the reference computes or delegates
  * (SURVEY.md §2) is expressible as a declarative DataFrame program
  * that Catalyst already plans well — verified by PlanSpec and
  * PlanDriftSpec's plan lock (broadcast placement, pushdown,
  * partial aggregation, TakeOrderedAndProject fusion, bucketed
  * no-shuffle joins). Where built-ins genuinely fell short, the
  * cheaper extension points sufficed, in the build plan's preference
  * order:
  *
  *   - scalar kernels → native codegen'd `Expression`s
  *     ([[graft.functions.SimHash64]], [[graft.functions.VecDot]],
  *     [[graft.functions.RollingHash]]) — interpreted higher-order
  *     functions were 50–100× slower;
  *   - aggregation kernels → typed `Aggregator`s
  *     ([[graft.functions.MinHashAgg]], [[graft.functions.TopKAgg]])
  *     riding Spark's existing partial-aggregation machinery;
  *   - whole-operator semantics (as-of join, sessionization,
  *     connected components) → compositions with the right shuffle
  *     structure (union+window, session_window, iterative join).
  *
  * A possible round-2 extension is an optimizer Rule rewriting
  * existing `Window(row_number) + Filter(rn <= k)` plans into
  * [[TopKPerKey]] wholesale, so unmodified window queries get the
  * sort-free plan implicitly.
  */
package object plans
