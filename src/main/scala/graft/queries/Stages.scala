package graft.queries

import org.apache.spark.sql.SparkSession

/** Registry of every heavy per-SF staged intermediate, in dependency
  * order (a consumer stage lists AFTER the stages it reads — clusters
  * after pairs, bloom after grams, corpus bands after minhash), so a
  * sequential walk builds each exactly once.
  *
  * Why this exists: a staged intermediate is built lazily by whichever
  * query touches it first, which in a benched fleet means the
  * alphabetically-first consumer absorbs the whole build into its timed
  * window — its row then measures "stage build + query" while its anchor
  * (or a retry that finds the stage warm) measures only the query, and
  * the regression gate cries wolf on plan changes that never happened
  * (rounds 8–9: dd_cluster_stats, etl_partitioned_write, and friends).
  * graft.Bench walks this registry BEFORE the timed query pass and
  * reports each build as its own `stage:<name>` line, so query rows
  * measure query cost and stage rows measure stage cost — the round-5
  * measurement-isolation lesson applied to stages.
  *
  * The event-stream stages (StreamStage.eventStream, eventBatches,
  * eventBatchesOneFlush: evstream4/evsess/evsessw) are deliberately
  * absent: Bench's untimed stream warm-up at the bench SF already builds
  * them (they are harness scaffolding, not operator cost), and Verify
  * builds everything lazily as before. The other five StreamStage stages
  * ARE registered. The document stream is a full copy of the documents
  * table shared by four judged drains (dd_stream_dedup/neardup/
  * decontaminate/upsert), so when a retry or subset run finds it cold the
  * absorbed build is large enough to trip the regression gate —
  * itemizing it as `stage:doc_stream` keeps those query rows measuring
  * drain cost.
  */
object Stages {

  val all: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    // text/dedup side
    "stage:doc_stream"   -> ((s, d) => { StreamStage.docStream(s, d); () }),
    "stage:doc_evict"    -> ((s, d) => { StreamStage.docBatches(s, d); () }),
    "stage:curate_stream" -> ((s, d) => { StreamStage.curateBatches(s, d); () }),
    "stage:pairs"        -> ((s, d) => { TextOps.stagedPairs(s, d); () }),
    "stage:clusters"     -> ((s, d) => { TextOps.stagedClusters(s, d); () }),
    "stage:quotient"     -> ((s, d) => { TextOps.stagedQuotient(s, d); () }),
    "stage:minhash"      -> ((s, d) => { TextOps.stagedMinHashSigs(s, d); () }),
    "stage:corpus_bands" -> ((s, d) => { TextOps.stagedCorpusBands(s, d); () }),
    "stage:grams"        -> ((s, d) => { TextOps.stagedGramHashes(s, d); () }),
    "stage:bloom"        -> ((s, d) => { TextOps.stagedBloomBitmap(s, d); () }),
    "stage:manifest"     -> ((s, d) => { TextOps.stagedManifest(s, d); () }),
    "stage:spans"        -> ((s, d) => { TextOps.stagedSpanArrays(s, d); () }),
    "stage:bpe"          -> ((s, d) => { TextOps.stagedBpe(s, d); () }),
    "stage:dsir"         -> ((s, d) => { TextOps.stagedDsir(s, d); () }),
    // embedding side
    "stage:cov"          -> ((s, d) => { Vectors.stagedCov(s, d); () }),
    "stage:opq"          -> ((s, d) => { Vectors.stagedOpq(s, d); () }),
    "stage:pq"           -> ((s, d) => { Vectors.stagedPq(s, d); () }),
    "stage:respq"        -> ((s, d) => { Vectors.stagedResPq(s, d); () }),
    "stage:refpq"        -> ((s, d) => { Vectors.stagedRefPq(s, d); () }),
    "stage:knn"          -> ((s, d) => { Vectors.stagedKnn(s, d); () }),
    "stage:emb_stream"   -> ((s, d) => { StreamStage.embStream(s, d); () }),
    "stage:emb_evict"    -> ((s, d) => { StreamStage.embBatches(s, d); () }),
    "stage:ivf_append"   -> ((s, d) => { Vectors.stagedIvfAppend(s, d); () }),
    "stage:phash"        -> ((s, d) => { Vectors.stagedPhashIndex(s, d); () }),
    // ETL layout stages
    "stage:docs_by_lang" -> ((s, d) => { Etl.stagedDocsByLang(s, d); () }),
    "stage:schema_evo"   -> ((s, d) => { Etl.stagedSchemaEvo(s, d); () })
  )
}
