package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Web-corpus companion ops for the HTML kernel: URL canonicalization and
  * URL-level deduplication — the standard first dedup pass of a web crawl
  * pipeline (the same page is fetched under scheme/case/port/tracking-param
  * variants long before content dedup sees it).
  *
  * Everything is a codegen'd Column regex chain (no UDF) and deliberately
  * RE2-compatible (no lookbehind/backtracking), so the q36 gate oracle
  * re-derives the identical canonical form in DuckDB and the driver's
  * hash-compare certifies the two regex engines agree on the fixtures.
  */
object Web {

  /** Canonical URL form (documented choices, applied in order):
    *  1. trim; scheme+host lowercased (path/query stay case-sensitive);
    *  2. fragment stripped;
    *  3. http:// -> https:// (one scheme per resource);
    *  4. default ports :80/:443 stripped — only when followed by a path/
    *     query/fragment boundary or end-of-string, so ':8080'/':4430'
    *     never lose their prefix;
    *  5. tracking params (utm_*, fbclid, gclid) removed — the separator
    *     fix-up pass runs three times because RE2 has no lookbehind, so a
    *     run of adjacent tracking params needs repeated passes (documented
    *     bound: handles up to 3 adjacent; both sides of the oracle apply
    *     the same chain);
    *  6. trailing '?'/'&' and trailing '/' stripped.
    *
    * Null-propagating like every Column function: a null url yields a
    * null canonical (the dedup operators below give nulls defined
    * treatment instead of letting join semantics eat them).
    */
  def canonicalUrl(url: Column): Column = {
    val u0 = trim(url)
    // lowercase ONLY the scheme and host — NOT userinfo (user:Pass@host):
    // credentials are case-sensitive, and folding them would wrongly merge
    // case-distinct userinfo URLs in urlDedup. Group 2 ([^/?#]*@)? is
    // greedy, so 'a@b@host' keeps 'a@b@' as (case-preserved) userinfo and
    // lowercases only the final host:port segment, per RFC 3986 authority.
    val headPat = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*"
    val fullPat = "^([a-zA-Z][a-zA-Z0-9+.-]*://)([^/?#]*@)?([^/?#]*)"
    val u1 = concat(
      lower(regexp_extract(u0, fullPat, 1)),
      regexp_extract(u0, fullPat, 2),
      lower(regexp_extract(u0, fullPat, 3)),
      regexp_replace(u0, headPat, ""))
    val u2 = regexp_replace(u1, "#.*$", "")
    val u3 = regexp_replace(u2, "^http://", "https://")
    // optional userinfo before the host: userinfo may itself contain ':'
    // (user:pw@host:443), so the host match must start AFTER the last '@'
    // of the authority or the ':443' in a userinfo URL never strips
    val u4 = regexp_replace(u3,
      "^(https://(?:[^/?#]*@)?[^/?#:@]+):(80|443)([/?#]|$)", "$1$3")
    val trackPat = "([?&])(utm_[a-zA-Z0-9]+|fbclid|gclid)=[^&#]*&?"
    val u5 = regexp_replace(regexp_replace(regexp_replace(
      u4, trackPat, "$1"), trackPat, "$1"), trackPat, "$1")
    val u6 = regexp_replace(u5, "[?&]+$", "")
    regexp_replace(u6, "/$", "")
  }

  /** The politeness/robots/curation domain of a URL: lowercased host,
    * userinfo and port stripped — THE one definition shared by the
    * robots gate, the politeness scheduler (via WebPrep) and
    * [[graft.ops.Corpus.hostSummary]], so no two operators can disagree
    * on a host. RE2-compatible (oracle-re-derivable, like
    * [[canonicalUrl]]); null-PROPAGATING like every Column op here (a
    * null url yields a null host, so the robots gate's left join keeps
    * its null-url-rows-survive convention); a non-null unparseable url
    * yields "" (regexp_extract's no-match value). Consumers that need
    * nulls grouped coalesce explicitly (hostSummary does).
    */
  def hostOf(url: Column): Column =
    regexp_replace(lower(regexp_extract(url,
      "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?([^/?#]+)", 1)),
      ":\\d+$", "")

  /** Crawl-trap URL heuristic — the frontier filter every production
    * crawler runs (Heritrix's TooManyPathSegments / path-repetition
    * rules are the public reference): calendar pages, session-id loops
    * and mis-resolved relative links generate unbounded URL families
    * that would eat a crawl's politeness budget. A URL is a trap when
    * ANY of:
    *  - total length > `maxLength` (2048 — the de-facto interop bound);
    *  - path depth > `maxPathDepth` (20, the Heritrix default);
    *  - some path segment repeats ≥ `maxSegmentRepeats` extra times
    *    (count-based, not adjacency: `/a/b/a/b/a/b` has 6 segments but
    *    2 distinct — the loop signature — measured as
    *    `segments - distinct segments >= maxSegmentRepeats`, which RE2
    *    and DuckDB can both express, unlike a backreference regex).
    * Pure codegen'd Column (split/array_distinct/length — no UDF), so
    * it runs inside the frontier's narrow projections for free:
    * {{{ frontier.filter(!Web.isUrlTrap(col("url"))) }}}
    * Null url yields null (filter semantics drop it — callers that must
    * keep null rows coalesce explicitly, the canonicalUrl convention).
    */
  def isUrlTrap(url: Column, maxLength: Int = 2048, maxPathDepth: Int = 20,
      maxSegmentRepeats: Int = 3): Column = {
    val path = regexp_extract(url,
      "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)?", 1)
    val segs = filter(split(path, "/"), s => s =!= "")
    (length(url) > maxLength) ||
      (size(segs) > maxPathDepth) ||
      (size(segs) - size(array_distinct(segs)) >= maxSegmentRepeats)
  }

  /** Streaming face of urlDedup for crawl ingest: keep the FIRST arrival
    * per canonical URL inside the watermark horizon (state holds the
    * canonical string, never the page). Same split as the content-dedup
    * stream: on-arrival suppression here, periodic batch urlDedup as the
    * authority across horizons. Rows with a null url are EXCLUDED from
    * the stream (the StreamingExtract convention: no poison rows into
    * stateful stages, and `dropDuplicates` would otherwise collapse every
    * null-url document into one) — route them through a separate branch
    * if they must be retained.
    */
  def urlDedupStream(docs: DataFrame, eventTimeCol: String,
      watermark: String, urlCol: String = "url"): DataFrame =
    docs
      .filter(col(urlCol).isNotNull)
      .withColumn("canonical_url", canonicalUrl(col(urlCol)))
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark("canonical_url")

  /** URL-level dedup: (doc_id, canonical_url, keep) where keep marks the
    * smallest doc_id of each canonical group (the deterministic keeper —
    * same convention as Dedup's cluster = min doc_id). Row-count
    * preserving: documents with a null url cannot be URL-compared, so
    * each is its own keeper (canonical_url null, keep true) rather than
    * silently vanishing through null-unsafe join equality. Two narrow
    * shuffles (group + join-back), same shape as Dedup.dedupExact, both
    * keyed on the canonical string (the gate/oracle surface: DuckDB
    * re-derives the key).
    */
  def urlDedup(docs: DataFrame, urlCol: String = "url"): DataFrame = {
    // checkpointed: the canonical projection is read three times (keeper
    // aggregation, join-back, null branch) and Catalyst does not dedupe
    // identical subtrees — without this the canonicalUrl regex chain
    // runs 3x per row
    val withCanon = Materialize.checkpoint(Partitioning.spreadSmall(
        docs.select(col("doc_id"), col(urlCol)))
      .select(col("doc_id"), canonicalUrl(col(urlCol)).as("canonical_url")))
    val nonNull = withCanon.filter(col("canonical_url").isNotNull)
    val keepers = nonNull.groupBy(col("canonical_url"))
      .agg(min(col("doc_id")).as("keeper"))
    nonNull.join(keepers, Seq("canonical_url"))
      .select(col("doc_id"), col("canonical_url"),
        (col("doc_id") === col("keeper")).as("keep"))
      .unionByName(withCanon.filter(col("canonical_url").isNull)
        .select(col("doc_id"), col("canonical_url"), lit(true).as("keep")))
  }

  /** Domain-blocklist filter with HOST-SUFFIX semantics — the adult/
    * malware/spam domain gate every public web-corpus pipeline runs
    * before content filtering (C4 and RefinedWeb both cite the public
    * UT1 "blacklists" collection; the matching rule below is the one
    * those lists assume): an entry blocks a URL when the URL's host
    * EQUALS the entry or ends with "." + entry — label-boundary suffix
    * match, so entry `tracker.net` blocks `ads.tracker.net` but never
    * `nottracker.net`. Filter-as-flag output (the q41/q62 convention):
    * every input row survives with `host`, `blocked_by` (the matched
    * entry — the LONGEST when several match, i.e. the most specific
    * rule) and `blocked` appended; callers filter on the flag.
    *
    * Scale shape: the blocklist is a classic small dimension against a
    * 100 TB fact side, so it collects ONCE to a driver hash set and
    * broadcasts (UT1's ~4M entries ≈ a few hundred MB of Set — bounded,
    * documented; the probe is O(#host-labels) hash lookups per row,
    * zero shuffle, no explode, and the docs side keeps every column
    * untouched). Entries are normalized (lowercased, trimmed, trailing
    * dot stripped, empties dropped) so list files feed in raw. Null
    * urls keep their row (host null, blocked false) — the
    * null-rows-survive convention of [[urlDedup]]; an unparseable url
    * has host "" which no entry can match.
    */
  def domainBlocklist(docs: DataFrame, entries: DataFrame,
      urlCol: String = "url"): DataFrame = {
    val entryCol = entries.columns.head
    val normalized = entries
      .select(regexp_replace(trim(lower(col(entryCol))), "\\.$", "").as("e"))
      .filter(col("e") =!= "").distinct()
      .collect().map(_.getString(0)).toSet
    domainBlocklist(docs, normalized, urlCol)
  }

  /** Consolidated per-page OPT-OUT signals — the consent layer between
    * robots.txt (fetch-time, [[RobotsTxt]]) and corpus curation: HTTP
    * `X-Robots-Tag` headers, HTML meta robots tokens, and the W3C TDM
    * Reservation Protocol headers (`tdm-reservation`/`tdm-policy`),
    * including the AI-specific tokens (`noai`, `noimageai`) that
    * publishers ship today. Every input row survives with boolean flags
    * appended (filter-as-flag): `noindex nofollow noarchive noai
    * noimageai` (union of header + meta declarations applicable to
    * `ua`), `tdm_reserved` (tdm-reservation == "1" after trim), and the
    * one-stop `train_ok` = NOT(noai OR tdm_reserved) — index gating
    * stays WebPrep's noindex business, TDM/AI consent is this one's.
    *
    * X-Robots-Tag grammar (Google's documented form, the de-facto
    * spec): each header VALUE is a comma-separated directive list; a
    * `useragent:` prefix sets the scope for THAT directive AND ALL
    * FOLLOWING directives in the same header value; directives before
    * any scope are global. The VALUED directives (`unavailable_after:
    * <date>`, `max-snippet: <n>`, `max-image-preview: <setting>`,
    * `max-video-preview: <n>` — Google's documented set) also contain a
    * colon but their prefix is never a scope; misreading one as a scope
    * would silently discard every directive after it. Multiple header
    * instances arrive newline-joined and each line's scope starts
    * fresh (scopes must not leak across separately-sent headers). A
    * directive applies when its scope is global or equals `ua`
    * (case-insensitive). Meta robots uses the comma/space token rule
    * of WebPrep's gate, plus the standard `none` = noindex,nofollow
    * shorthand.
    *
    * Pure per-row string work: the parse is a tiny UDF kernel (the
    * scope walk is sequential state — not a Column shape), zero
    * shuffle, null-safe (null header/meta = no directives; null rows
    * survive). The q69 oracle re-derives the ENTIRE grammar in SQL —
    * line split, scope-extends-rightward, the unavailable_after
    * exception, the none shorthand — over planted fixtures.
    */
  /** The X-Robots-Tag directives that legitimately CONTAIN a colon
    * (Google's documented valued-directive set) — their prefix must
    * never be read as a user-agent scope.
    */
  val ValuedDirectives: Set[String] = Set("unavailable_after",
    "max-snippet", "max-image-preview", "max-video-preview")

  def optOutSignals(docs: DataFrame, ua: String,
      xRobotsCol: String = "x_robots_tag",
      metaRobotsCol: String = "robots",
      tdmReservationCol: String = "tdm_reservation",
      tdmPolicyCol: String = "tdm_policy"): DataFrame = {
    val uaLower = ua.toLowerCase(java.util.Locale.ROOT)
    val applicable = udf { (header: String) =>
      if (header == null) Array.empty[String]
      else header.split("\n").flatMap { line =>
        var scope: String = null // null = global; resets per header line
        line.split(",").flatMap { seg0 =>
          val seg = seg0.trim
          val colonAt = seg.indexOf(':')
          val prefix = if (colonAt > 0) seg.substring(0, colonAt).trim else ""
          val isScope = colonAt > 0 &&
            prefix.matches("[A-Za-z0-9_.*-]+") &&
            !ValuedDirectives.contains(
              prefix.toLowerCase(java.util.Locale.ROOT))
          val directive =
            if (isScope) {
              scope = prefix.toLowerCase(java.util.Locale.ROOT)
              seg.substring(colonAt + 1).trim
            } else seg
          val tok = directive.toLowerCase(java.util.Locale.ROOT)
          if (tok.nonEmpty && (scope == null || scope == uaLower)) Some(tok)
          else None
        }
      }
    }
    val metaToks = split(lower(coalesce(col(metaRobotsCol), lit(""))),
      "[,\\s]+")
    // stage the parse into its own projected column so the kernel runs
    // ONCE per row, not once per flag (the q62 c4Filter precedent)
    val hdrToks = col("__hdr_toks")
    def declared(token: String): Column =
      array_contains(hdrToks, token) || array_contains(metaToks, token) ||
        (if (token == "noindex" || token == "nofollow")
          array_contains(hdrToks, "none") || array_contains(metaToks, "none")
        else lit(false))
    val tdmReserved = trim(coalesce(col(tdmReservationCol), lit(""))) === "1"
    docs
      .withColumn("__hdr_toks", applicable(col(xRobotsCol)))
      .withColumn("noindex", declared("noindex"))
      .withColumn("nofollow", declared("nofollow"))
      .withColumn("noarchive", declared("noarchive"))
      .withColumn("noai", declared("noai"))
      .withColumn("noimageai", declared("noimageai"))
      .withColumn("tdm_reserved", tdmReserved)
      // the policy URL is only defined while a reservation is asserted
      // (TDMRep: tdm-policy qualifies tdm-reservation=1); empty -> null
      .withColumn("tdm_policy_url",
        when(tdmReserved &&
          trim(coalesce(col(tdmPolicyCol), lit(""))) =!= "",
          trim(col(tdmPolicyCol))))
      .withColumn("train_ok", !(declared("noai") || tdmReserved))
      .drop("__hdr_toks")
  }

  /** [[domainBlocklist]] with an in-memory entry set (the post-collect
    * face; also the convenient one for inline lists).
    */
  def domainBlocklist(docs: DataFrame, entries: Set[String],
      urlCol: String): DataFrame = {
    val bc = docs.sparkSession.sparkContext.broadcast(entries)
    // longest-first suffix walk: the full host is the longest possible
    // match, each dropped label shortens it, so the FIRST set hit is the
    // most specific matching entry
    val blockedBy = udf { (host0: String) =>
      // a trailing-dot FQDN (https://ads.tracker.net./x — legal, and
      // resolvers treat it as ads.tracker.net) must not evade the list:
      // normalize the probed host exactly like the entries were
      val host = if (host0 == null) null
        else host0.replaceAll("\\.+$", "")
      if (host == null || host.isEmpty) None
      else {
        val set = bc.value
        var from = 0
        var hit: Option[String] = None
        while (hit.isEmpty && from >= 0 && from < host.length) {
          val suffix = if (from == 0) host else host.substring(from)
          if (set.contains(suffix)) hit = Some(suffix)
          else {
            val dot = host.indexOf('.', from)
            from = if (dot < 0) -1 else dot + 1
          }
        }
        hit
      }
    }
    docs.withColumn("host", hostOf(col(urlCol)))
      .withColumn("blocked_by", blockedBy(col("host")))
      .withColumn("blocked", col("blocked_by").isNotNull)
  }
}
