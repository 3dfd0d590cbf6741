package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * One query of the [[graft.SparkEntry]] registry, declared once: its name, the `build`
 * function whose rows `graft.Verify` dumps, the DuckDB `oracle` SQL those rows must match,
 * and an optional `bench` form that `graft.Bench` times instead of `build`.
 *
 * Bench-facing variants (VERDICT r3 #1) are the same operators WITHOUT the in-plan exact
 * audits and in-query model training the `build` form carries as a correctness gate —
 * all gates stay oracle-checked while the bench times what a user actually runs at scale:
 *  - ANN probes against pre-trained models (`trained = Some(...)`), not probe+training;
 *  - sketch profiling without its exact `countDistinct`/`percentile` twins;
 *  - near-dup admission without the exact-shingle audit or planted-copy scaffolding.
 * A query without a `bench` form benches identically to its gated form.
 */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String,
    bench: Option[(SparkSession, String) => DataFrame] = None)
