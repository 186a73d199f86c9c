package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** SparkSessionExtensions entry point: install the engine's custom
  * Catalyst surface into any session via
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`).
  *
  * Registers the [[graft.functions.SqlScalars]] table — among them
  * `healpix_ang2pix(order, lon_deg, lat_deg)` and
  * `sphdist(ra1, dec1, ra2, dec2)`, the two scalars the reference
  * needs that Spark lacks as builtins (SURVEY.md §4.3) — plus the
  * [[graft.plans.ConeZonePushdown]] optimizer rule, which turns
  * `sphdist(…) ≤ r` cone filters into sargable zone pre-filters.
  * Injected into the operator-optimization batch, the derived bands
  * ride the normal predicate-pushdown rules through joins and
  * projections to the scan.  Alias/caseless resolution and
  * NumPy-expression translation intentionally live *above* the plan
  * (they rewrite names/strings before Catalyst sees them), so no
  * further Rule or Strategy is required for reference parity
  * (SURVEY.md §4.1–4.2).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.ConeZonePushdown)
    graft.functions.SqlScalars.all.foreach { f =>
      ext.injectFunction((new FunctionIdentifier(f.name), f.info, f.builder))
    }
  }
}
