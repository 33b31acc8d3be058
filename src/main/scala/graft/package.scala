/** graft — a Spark-native analytics engine with the capability envelope of
  * `alxmancilla/parquet-demo`, widened to the declared query surface of
  * SURVEY.md §2.
  *
  * Layout:
  *  - [[graft.sources]] — Parquet/CSV/JSON/ORC I/O, schema inference, the
  *    §1.4 coercion rules, deterministic generators, document sinks/sources
  *    with batched + bulk-upsert + streaming ingest (SURVEY §2.1–§2.2).
  *  - [[graft.queries]] — the declared operator inventory: one `QueryDef`
  *    (Spark plan + DuckDB oracle SQL) per operator, grouped as
  *    relational / analytic / event / text / dedup / similarity /
  *    multimodal (SURVEY §2.3, §2.7).
  *  - [[graft.streaming]] — Structured Streaming forms (windows, sessions,
  *    dedup-within-watermark, stream-stream interval join,
  *    `mapGroupsWithState`), each converging to its batch oracle
  *    (SURVEY §2.4).
  *  - [[graft.functions]] — codegen'd Catalyst expressions (`vec_dot`,
  *    `vec_dist2`, `minhash_sig`) + SQL registration via
  *    `GraftExtensions` (SURVEY §2.5).
  *  - [[graft.operators]] — scale utilities: as-of join, salting,
  *    bucketing, typed top-k aggregator.
  *
  * Runtime mains: [[graft.Verify]] (correctness dump for the oracle gate),
  * [[graft.Bench]] (one-line JSON benchmark), [[graft.Plans]] (plan dump
  * for PLANS.md), [[graft.ScaleProbe]] (×m corpus scaling measurements),
  * [[graft.Probe21]] (per-query job/stage/task attribution) and
  * [[graft.Demo]] (the reference's ETL modes). Each builds its session
  * from [[graft.SessionProfile]], as the specs' `SparkSpec` does.
  */
package object graft
