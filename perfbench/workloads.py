"""The benchmark's workloads: the inputs each generates and the operations
each runs, in order. Operations are `SparkEntry.queries` rows and
`queries.Stages.all` builds (`stage:` names). README.md says why each
workload exists."""
# the graft.etl module each ETL row exercises, for etl.sources_s,
# etl.staging_s and etl.star_s
ETL_GROUPS = {"etl_csv_source": "sources", "etl_upsert": "staging",
              "etl_star_pipeline": "star"}

# Fixed-cost regime: rows from the core, scalar, analytics and text packs,
# the ETL write path, a data-quality row, the n-gram candidate-pair stage
# with the row that writes (and so checks) its member pairs, and a
# streaming dedup drain. The
# order is fixed: in a cold JVM a row's time depends on how many rows ran
# before it (sim_dup_clusters took 7 s tenth and 15 s second), so a seeded
# order would spread the totals across seeds by that alone.
FLEET_ROWS = [
    "q1_agg", "f1_normalize_text", "w1_running_total", "tx_token_stats",
    "etl_csv_source", "etl_upsert", "etl_star_pipeline", "dq2_expectations",
    "stage:pairs", "dd_ngram_jaccard", "dd_stream_dedup",
]
# data-bound regime: PQ encoding of the embeddings and ADC top-k scoring
CURATE_OPS = ["stage:pq", "sim_pq_topk"]

WORKLOADS = {
    "fleet_sf001": dict(base="sf0.01", ops=FLEET_ROWS),
    "curate_sf01": dict(base="sf0.1", ops=CURATE_OPS),
}
