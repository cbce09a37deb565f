"""URL frontier + fetch scheduler (BASELINE.json north_rule).

The reference implements crawl scheduling implicitly at file granularity:
seed list = warc.paths.gz (01_download_newscrawl.py:72-81), URL-seen =
"local file exists" (01:88-90), politeness = a global 10-thread budget
(01:95-96), retries = 5 with exponential backoff (01:51-69), resume = re-run
and skip existing files.  This package makes each of those an explicit,
shuffle-aware DataFrame stage that holds at a 10^10-URL frontier:

- core        canonicalized+murmur3 URL keys; URL-seen = ONE gate
              (url_seen_gate) that wave selection, the candidate head and
              link discovery all call: partitioned bloom shards (pre-filter)
              + exact anti-join (zero-FP backstop) over a checkpoint part
              and a size-gated broadcast recent part
- politeness  per-host budget via salted two-phase window ranking (skew-safe)
- robots      robots.txt parsing + broadcast prefix-gating anti-join
- waves       wave loop with snapshot checkpoints, per-partition lineage
              metrics, resume-from-any-snapshot
- simulate    in-process model of the reference scheduler for parity tests
"""
