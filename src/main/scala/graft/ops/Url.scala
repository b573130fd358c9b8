package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL canonicalization + dedup — the first pass of every crawl pipeline:
  * the same page arrives under scheme/host case variants, default ports,
  * tracking parameters, fragments, and trailing slashes, and naive exact
  * dedup misses all of them. Canonical rule set (the conservative, public
  * core of RFC 3986 §6 normalization plus tracking-param stripping):
  *
  *  - scheme and host lowercased (case-insensitive per the RFC); the path
  *    is NOT lowercased (case-sensitive)
  *  - default ports (:80, :443) dropped
  *  - the fragment dropped (never sent to the server)
  *  - tracking parameters (utm_*, fbclid, gclid) dropped; surviving query
  *    parameters sorted so parameter order cannot split a group
  *  - one trailing slash on the path dropped
  *
  * Everything is built-in regex/array expressions — the strings are short
  * and this is a pure map, so there is no hot-loop codegen concern; the
  * per-URL cost is constant and the dedup is the same hash-aggregate shape
  * as [[Dedup.exact]].
  */
object Url {

  private val SchemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://"
  private val HostRe = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
  private val PathRe = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
  private val TrackRe = "^(utm_[^=]*|fbclid|gclid)="

  /** Canonical form of a URL column (see object doc for the rule set).
    * Default-port stripping is scheme-matched: only http:80 and https:443
    * are defaults — http://host:443/x is a DISTINCT resource and must not
    * fold into http://host/x. */
  def canonicalize(u: Column): Column = {
    val scheme = lower(regexp_extract(u, SchemeRe, 1))
    val rawHost = lower(regexp_extract(u, HostRe, 1))
    val host = when(scheme === "http", regexp_replace(rawHost, ":80$", ""))
      .when(scheme === "https", regexp_replace(rawHost, ":443$", ""))
      .otherwise(rawHost)
    val path = regexp_replace(regexp_extract(u, PathRe, 1), "/$", "")
    val kept = filter(split(regexp_extract(u, "\\?([^#]*)", 1), "&"),
      x => !(x === "") && !x.rlike(TrackRe))
    val q = array_join(array_sort(kept), "&")
    concat(scheme, lit("://"), host, path,
      when(q === "", lit("")).otherwise(concat(lit("?"), q)))
  }

  /** Group a URL table by canonical form: smallest id survives, raw
    * variant count shows how much the canonicalization actually folded.
    * Same partial-aggregated hash-agg shape as exact dedup — one shuffle
    * keyed on the canonical string. */
  def canonicalDedup(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("url"),
        canonicalize(col("url")).as("canon_url"))
      .groupBy(col("canon_url"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"),
        countDistinct(col("url")).as("n_variants"))
      .orderBy(col("keep_id"))
}
