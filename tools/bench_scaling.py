"""N→4N scaling-efficiency evidence (BASELINE.json north_rule).

A real multi-executor cluster is unavailable in this sandbox, so the
two-cluster-size criterion is evidenced by running the IDENTICAL
extraction job on the IDENTICAL input at two parallelism levels
(local[N] and local[4N]) in fresh JVMs, reporting throughput at both
plus efficiency = (pages_per_sec_4N / pages_per_sec_N) / 4.

Writes BENCH/BASELINE.md. Usage: python tools/bench_scaling.py
"""

from __future__ import annotations

import json

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench

CORPUS = bench.PAGES_DIR
N_PAGES = bench.N_PAGES


def ensure_corpus() -> None:
    if os.path.exists(os.path.join(CORPUS, "_SUCCESS")):
        return
    from ocrd_segment_spark.session import build_session

    spark = build_session(app="gen-corpus", master="local[16]",
                          extra={"spark.driver.memory": "24g"})
    bench.ensure_pages(spark)
    spark.stop()


_RUN_SNIPPET = """
import sys, time, json
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from ocrd_segment_spark.session import build_session
from ocrd_segment_spark.pipeline import extract_pages
spark = build_session(app="scale", master={master!r},
                      extra={{"spark.driver.memory": "24g"}})
spark.sparkContext.setLogLevel("ERROR")
pages = spark.read.parquet({corpus!r})
extract_pages(pages.limit(2000), python_parallelism={pp}).agg(F.count("*")).collect()
from bench import ExternalLoad
ext = ExternalLoad()
best, best_ext = None, None
for _ in range(2):
    ext.start()
    t0 = time.perf_counter()
    extract_pages(pages, python_parallelism={pp}).agg(
        F.sum(F.length("extracted_text"))).collect()
    dt = time.perf_counter() - t0
    avg, _peak = ext.stop()
    if best is None or dt < best:
        best, best_ext = dt, avg
print(json.dumps({{"master": {master!r}, "sec": round(best, 2),
                   "pages_per_sec": round({n_pages} / best, 1),
                   "ext_cores": best_ext}}))
spark.stop()
"""


def run_once(master: str, pp: int | None) -> dict:
    code = _RUN_SNIPPET.format(
        repo=REPO, master=master, corpus=CORPUS, pp=pp, n_pages=N_PAGES
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=900
    )
    line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    ensure_corpus()
    ladder = [
        ("local[2]", None),
        ("local[8]", None),
        ("local[16]", None),
        ("local[32]", None),
        ("local[32]", 16),  # python_parallelism=16: a floor, not a cap
    ]
    # efficiency is a RATIO of two configs: co-tenant load on either
    # side skews it in either direction, so each config gets the
    # bench.py treatment — retry (bounded) while the selected run was
    # flare-hit, and keep the fastest attempt. Gate tighter than
    # bench.py's 3.0: a single external core is ~50% of local[2].
    GATE, MAX_EXTRA = 1.0, 2
    results = []
    for master, pp in ladder:
        best, extra = None, MAX_EXTRA
        while True:
            r = run_once(master, pp)
            if best is None or r["sec"] < best["sec"]:
                best = r
            e = best.get("ext_cores")
            if e is None or e < GATE or extra == 0:
                break
            extra -= 1
        best["python_parallelism"] = pp or "unbounded"
        results.append(best)
        print(best, flush=True)

    by = {(r["master"], r["python_parallelism"]): r for r in results}
    n_run = by[("local[2]", "unbounded")]
    n4_run = by[("local[8]", "unbounded")]
    eff = n4_run["pages_per_sec"] / n_run["pages_per_sec"] / 4
    cap32 = by[("local[32]", 16)]
    un32 = by[("local[32]", "unbounded")]

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as f:
        f.write(f"""# BENCH/BASELINE — extraction throughput & N→4N scaling

Job: `extract_pages` (full kernel: parse → repair → serialize) over the
seeded 100k-page synthetic corpus (`tools/bench_scaling.py`), identical
input and code at every parallelism level, fresh JVM per run. Each
config is best-of-2 after an untimed warmup, re-run (bounded, max 2
extra JVMs) while the fastest attempt measured co-tenant load >= 1
external core — the selected row reports the load it actually ran
under (ext_cores). Byte-identity of output across parallelism levels
is enforced by tests/test_byte_identity.py.

## Headline: N=2 → 4N=8 cores

| config | sec | pages/sec | ext_cores during run |
|---|---|---|---|
| local[2] | {n_run['sec']} | {n_run['pages_per_sec']} | {n_run.get('ext_cores')} |
| local[8] | {n4_run['sec']} | {n4_run['pages_per_sec']} | {n4_run.get('ext_cores')} |

**Scaling efficiency (N→4N) = ({n4_run['pages_per_sec']} / {n_run['pages_per_sec']}) / 4 = {eff:.3f}**
(criterion: ≥ 0.8 — {"MET" if eff >= 0.8 else "NOT MET"})

## Full ladder (and the oversubscription finding)

ext_cores = average co-tenant cores measured DURING the selected run
(host /proc/stat busy minus container cpuacct — see bench.py's
ExternalLoad; the box is shared, read each row against its weather).

| config | python tasks | sec | pages/sec | ext_cores |
|---|---|---|---|---|
""")
        for r in results:
            f.write(
                f"| {r['master']} | {r['python_parallelism']} | {r['sec']} |"
                f" {r['pages_per_sec']} | {r.get('ext_cores')} |\n"
            )
        note = f"""
Round-6 note: `python_parallelism` is now a parallelism FLOOR, not a
cap (see CLAUDE.md — the old coalesce-to-cores//2 produced
empty/doubled partitions over 4m-split scans and measured 3× slower
at sf1.0), so the `local[32] / 16` row now exercises the floor
semantics and should track unbounded local[32]
(this run: {un32['pages_per_sec']} vs {cap32['pages_per_sec']} pages/s)."""
        f.write(f"""{note}
The engine exposes the knob as `extract_pages(python_parallelism=)`.
This is the sandbox proxy for the 1000-executor design point:
the extract path is shuffle-free (narrow), so throughput scales with
(executors × cores) and the only global coordination is the output
commit.

Reference baseline: the reference publishes no benchmark numbers
(BASELINE.md at repo root); its single-node equivalent is a sequential
per-page Python loop ≈ the single-core kernel rate (~1.4k pages/s
measured) — the Spark path at local[8] is ~{n4_run['pages_per_sec'] / 1400:.0f}× that,
and the best measured config reaches ~{max(r['pages_per_sec'] for r in results) / 1400:.0f}×.
""")
        f.write(_STATIC_SECTIONS)
    print(f"wrote BENCH/BASELINE.md, efficiency={eff:.3f}")


_STATIC_SECTIONS = """
## Round-5 close: verbatim-<pre> extraction + bench weather evidence

Final-session surface (contract 192/192 green, pytest 503):
**params.preserve_pre / --preserve-pre** on extract/corpus/stream jobs
— the <pre> subtree extracts as ONE verbatim-whitespace token (code
blocks keep indentation; HTML-spec leading-newline drop; batch/stream
parity and word-span exactness over multi-whitespace text pinned).
Pure kernel param: the extraction plan is unchanged (same single
mapInPandas stage, zero new exchanges), and the default path is
golden-digest-identical (kernel 1.6.0 history in tests/test_goldens.py).

Round-close verification (driven via spark-submit, this session):
fresh extract run 420/420 rows with metrics reconciling; immediate
rerun resumes as a no-op; local[8] vs local[32] outputs byte-identical
(0 differing rows through DuckDB EXCEPT); corpus funnel reconciles
(420 = 5 dropped_quality + 415 corpus_docs); batch and stream
--preserve-pre texts identical.

Round-close bench attempts (sf0.1, local[32]) landed in co-tenant
storms — host loadavg reached 19 and 27 DURING the two runs after
gate-passing starts (load_1m_start 2.8 / 1.8) — and the per-attempt
evidence shows it instead of hiding it, which is the round-4 lesson
working as designed: corpus_job attempts [60.9, 33.2, 52.6] s then
[97.2, 72.8, 28.5, 23.2] s with per-run ext_cores 0.7-4.1 and
ext_peak_1s up to 10 external cores; extract_pages best 3.54 s
(28.3k pages/s) carried ~1.0 external cores through its run vs the
quiet-box 3.04 s / 32.9k. No code path of any benched query changed
this session except the default-off kernel branch, so the standing
quiet-box numbers above (ladder efficiency 1.038, corpus_job gated
13.7-16.4 s) remain the engine's demonstrated floor; read any
BENCH_r05 row against its own runs[] weather.

Third attempt (load_1m_start 0.1): corpus_job best **18.3 s** and
corpus_job_signals **14.3 s** — near the gated quiet floor — with
18 KB-page extraction at its round best (2.70 s, 63.2 MB/s). One
refinement to how to read the weather columns: corpus_job attempts
still spread [59.3, 18.3, 55.5, 40.3, 31.4] s even where ext_cores
read 0.0-0.1, while host loadavg finished at 22.6 — loadavg counts
D-state (uninterruptible I/O) processes, so co-tenant DISK pressure
inflates wall time without appearing in the CPU-jiffy attribution.
ext_cores bounds co-tenant CPU theft only; a quiet-CPU slow attempt
next to a fast sibling indicates I/O weather, and best-of-N across
minutes-apart attempts remains the honest floor estimator.
## Page-content analysis surface (round 5, session 6)

New operator families, each contract-gated (191/191 keys green this
session — 190 DuckDB-oracled, compression_ratio rows-only by design):

- **Soft-404 detection** (operators/softerrors): error pages served as
  200 drop BEFORE extraction (title phrase arm + tiny-body arm over
  scan-stage proxies); shared pre-stage between corpus_job and
  stream_job (--drop-soft404); per-host rates feed frontier_job
  --soft404-rates/--soft404-max (link-rot deprioritization).
- **HTML tables + lists as training data** (operators/tables): frozen
  regular grammar → (table,row,col) cell grids and ul/ol items,
  GitHub-markdown serialization (corpus_job --tables side output);
  50k-doc harvest in **0.9 s** (table_harvest), all JVM, exchange
  budgets plan-tested (2 id-grain groups, zero skew).
- **Script-mix screen** (operators/scriptmix): eight frozen BMP block
  classes, mixed-script spam flag (20-letter floor), Latin-Cyrillic
  confusable counts; --script-screen drop stage placed BEFORE the
  Python LM/compression stages (early-filter streams never pay a
  mapInPandas pass on spam); **0.54 s**/50k docs, zero shuffle.
- **IDN homoglyph host flags** (urls.with_host_script_flags):
  punycode + mixed-script labels; frontier --drop-confusable-hosts.
- **Heading outlines** (operators/outline): h1-h6 section tree with
  parent = closest preceding smaller level, ONE page-keyed window
  (**0.69 s**/50k docs).
- **Publish-date harvest** (headmeta.with_publish_date): declared
  freshness via meta > <time> > JSON-LD precedence, strings verbatim.
- **Image-text pairs** (operators/images): <img src alt> + og:image
  hero + figcaption rows, urls resolved, LAION-style caption_ok
  screen — the multimodal fetch list (corpus_job --image-pairs),
  screened before any image byte is fetched.
- **noai/noimageai opt-out** (headmeta.with_ai_optout): honored
  pre-extraction (--honor-noai), image harvest excluded
  independently.

## Ingestion + discovery surface (round 5, session 5)

New operator families, each contract-gated with sf0.1 standing
numbers from the quiet-box bench (load_1m_start 0.1, per-run
ext_cores in BENCH_r05.json):

- **PDF text lane** (sources/pdf): frozen ISO-32000 subset without a
  PDF library — object/stream framing, /Length honored, FlateDecode
  via stdlib zlib, token-scanner BT/ET text assembly (strings consumed
  atomically; balanced parens per spec). BT blocks are REAL
  region_spans, so the span-preserving post-stages compose. 100k
  single-stream PDFs parse in **0.60 s** (pdf_extract) through the
  capped codec lane; corpus_job / stream_job `--input-format pdf`
  share every downstream filter stage, and /URI actions feed the link
  graph (linkgraph_job --input-format pdf).
- **Byte-exact WARC walk + Content-Encoding** (--warc-byte-exact):
  Content-Length sliced in bytes, gzip/deflate bodies inflated
  (split-union — the identity majority never pays Python); proven
  equal to the JVM scan on ASCII via the shared oracle
  (warc_bytes_parity).
- **Redirect chains** (operators/redirects): pointer doubling walks
  every chain in ceil(log2(max_hops)) join rounds — 60k 4-hop chains
  resolve in **2.7 s** (redirect_resolve); cycles and over-cap chains
  report unresolved, never a half-walked url. linkgraph --redirects
  rewrites edge targets (rewritten rows only).
- **Change-rate recrawl estimation** (snapshots.change_rates +
  jobs/recrawl_job.py): Cho & Garcia-Molina estimator on ONE url-keyed
  exchange (plan-tested; the (url, ts) collapse rides the same sorted
  window) — 60k urls × 4 snapshots in **0.98 s**; the job's --as-of
  is explicit so reruns are deterministic.
- **URL trap templates** (operators/urltraps): structural
  templatization + mining in **0.83 s** over 60k urls; frontier_job
  --max-per-template caps each family via the deterministic two-phase
  top-k.
- **Feeds**: RSS/Atom harvest (operators/feeds) + head autodiscovery
  (headmeta.feed_links, corpus_job --feed-links) close the discovery
  loop: crawl → advertised feeds → fetched feeds → frontier --feeds.
- **Link hygiene**: rel=nofollow / meta-robots-nofollow flagged edges
  (--drop-nofollow), sitemap changefreq/priority hints
  (vocabulary/range-gated), WAV/MP4 container metadata
  (multimodal.sniff_media — header arithmetic, no codecs).

All python stages ride the shared `pystage.parallelism_floor` (a
no-op when the input is already at least that finely partitioned — a
review finding: chained stages paid a pointless full shuffle).

## Kill-and-resume (process-level; re-evidenced rounds 3, 4 and 5)

Round-5 refresh (same protocol, the round-5 build with the expanded
job surface): SIGKILL at ~13 s through the first-attempt crash window
(output held ONLY `_temporary`, zero committed files); the identical
resubmit completed and `url + md5(extracted_text)` differs from a
clean single run in **0 of 100,000 rows**.

Round-4 refresh: the 100k spark-submit extract was SIGKILLed at ~11 s
leaving ONLY `_temporary` (zero committed files — the first-attempt
crash window); the identical resubmit completed and
`url + md5(extracted_text)` differs from a clean single run in
**0 of 100,000 rows**, now with language scoring fused into the
extraction pass.

`spark-submit` extract of the 100k corpus was SIGKILLed mid-write
(state observed: only `out/_temporary`, zero committed parquet files —
FileOutputCommitter job-level atomicity). Resubmitting the identical
command (resume = output-manifest anti-join) completed the run;
`url + md5(extracted_text)` of the resumed output differs from a clean
single run in **0 of 100,000 rows** (repeated on 1.5.1 after the
review fixes, including the through-the-crash-window variant: SIGKILL
with 5 in-flight task files, zero committed). The round-3 re-run surfaced and
fixed a first-attempt crash window: an output dir holding ONLY
`_temporary` makes the resume read raise UNABLE_TO_INFER_SCHEMA, which
run_extract now treats as "no committed output yet" (pipeline.py;
regression test tests/test_resume.py
test_resume_from_uncommitted_temporary_only). The in-test variant
(prefix-input "crash") is tests/test_resume.py.

## Realistic page sizes & the 100 TB projection

Fixture pages are ~3 KB; re-measured on 10k synthetic pages of ~18 KB
(40 long paragraphs each, 180 MB total): **4,716 pages/s = 85 MB/s on
16 cores (5.3 MB/s/core)**, kernel-bound (parse + tokenize scale with
bytes). Projection for the north_rule's design point (round 6: the
cores//2 cap is retired — python tasks run on every core, so 1000
executors x 16 cores -> 16 concurrent kernel tasks each at the same
per-core rate):

    1000 executors x 16 tasks x 5.3 MB/s = 85 GB/s
    100 TB / 85 GB/s = ~20 minutes end-to-end

The path is shuffle-free, so this scales linearly with executors until
the input filesystem, not Spark, is the bottleneck.

## Hierarchy levels at scale (round 2)

word/line derivation + nested reading-order groups over the SAME 100k
corpus (pure column expressions, still zero shuffle): 7.08M words /
1.07M lines derived in **17.5 s** (sublevels) and **9.4 s** (group
tree) on local[32] including the extraction pass — i.e. the sublevel
math adds well under 1× the extraction cost. Two measured traps are
documented in functions/sublevels.py: the aggregate+array_append
prefix scan (O(words²) per region, 9× slower at 1.3k words/region)
and inlining a word-array expression into per-line lambdas
(interpreted HOFs re-evaluate it per line — 13 s vs 0.7 s per 10k
docs; fixed by zip_with lambda binding).

## Corpus curation at scale (round 3)

The training-data curation surface added this round, with its 100 TB
shape and the measured sf0.1 numbers (quiet-host best-of-2; the box is
shared, read regressions against bench.py's load_1m field):

- **corpus_job end-to-end**: see "End-to-end corpus pipeline" below —
  one authoritative standing number. Funnel counters ride the writes
  as Observations — zero re-scans.
- **Gopher rules** (--gopher): pure column math inside the existing
  scoring pass — adds no stage, no shuffle, no lineage branch.
- **boilerplate strip** (--boilerplate-min-df): post-write over the
  committed parquet; frequency = distinct (unit, doc) pairs →
  partial-agg count, so a line in a billion docs combines map-side.
  0.58 s over the sf0.1 documents table as a standing headline.
- **benchmark decontamination** (--decontaminate): benchmark shingle
  set broadcast; corpus side is scan + broadcast semi-join + doc-keyed
  agg — no corpus-wide shuffle key. 0.35 s standing headline.
- **url canonicalization / PII redaction**: narrow regexp chains in
  the Java-regex/RE2 common subset, pinned byte-equal to the DuckDB
  restatement on 300+ fuzz strings (tests/test_corpus_quality.py).
- **exact-substring dedup** (Lee-et-al. k-window removal): two-level
  find-then-verify — cheap polynomial window hash over the corpus,
  md5-of-window-text verification only for candidate-duplicate groups
  (collisions cost wasted md5 work, never a false removal). 3.0 s
  standing headline at sf0.1 (was 10.5 s keying every window on md5).


## End-to-end corpus pipeline (round 3; round-4 A/B re-measured)

jobs/corpus_job.py (extract → quality/lang score → filter → exact
dedup → LSH-then-VERIFY near-dup audit) over the same 100k corpus on
local[32]: **13.2 s ≈ 7.6k pages/s for the WHOLE pipeline**
(quiet-host best-of-2, re-measured after the round-3 stage additions;
the earlier 24.7 s figure was taken under co-tenant load) — a
standing bench.py headline (`corpus_job`).

Round-4 A/B (same box, minutes apart, r3 code in a worktree vs r4):
r3 warm audited runs 8.2-11.1 s at loadavg 7-10; r4 (REAL lang-id
fused into extraction + the quality-signal plumbing) 10.7-12.6 s at
loadavg 16-19 — i.e. the round-4 additions cost ≈ the ~1.5-2 s of
language scoring and nothing else. CONFIRMED by the round-close gated
bench (load_1m_start 0.3, best-of-3): **corpus_job 13.7 s = 7.3k
pages/s whole-pipeline**, alongside extraction 32.5k pages/s (3 KB
pages) / 76.6 MB/s (18 KB pages) — every shared query at or better
than round 3. The 29-42 s corpus_job figures in some earlier BENCH
JSONs are co-tenant exposure: a ~25-stage pipeline is the most
load-sensitive query in the suite — gate on load_1m_start; bench.py
now waits for a quiet window and gives the corpus jobs a third
attempt. Round 3 upgraded the audit
from raw LSH candidates to exact 3-gram Jaccard scored per candidate
pair (344k pairs verified, doc-keyed equi-joins only), and removed the
two output re-scans: corpus count and pair count both ride their
writes as Observations. Funnel 100000 → 3627 quality-dropped → 96373
corpus docs. The only shuffles are the md5-keyed dedup window, the
LSH band join, and the pair-attach joins — all fine-grained keys.

## Round-4 surface: real lang-id, per-language LM, BPE metering, span cleanup

- **Real language identification** (operators/langid): 11-language
  char 1+2-gram naive-Bayes profiles across four scripts (Latin,
  Cyrillic, Han/kana, Arabic). The model is a trained-once literal
  table (few thousand rows) riding the UDF closure like a broadcast;
  scoring measures ~5.4k docs/s/core in pure Python (~0.19 ms/doc at
  600 chars). The jobs score it INSIDE the extraction batch loop
  (`extract_pages(lang_id=True)`, pinned value-identical to the
  standalone operator) — the text is already in Python memory there,
  so the pipeline pays no second Arrow round-trip of full pages
  (measured ~6% faster than the chained form at sf0.1; the
  structural win is ONE python stage instead of two, which is what
  matters for executor sizing at cluster scale). The corpus side
  stays shuffle-free.
- **Per-language reference LMs** (--lm-ref/--lm-max-bits): models are
  langs × charset² rows — collected once WITH JVM-computed surprisals
  (no Python transcendentals, bit-identical to the relational
  contract scorer) and folded per document in the same narrow pass.
- **BPE token metering** (--count-bpe): the greedy tokenizer is one
  pure-JVM column fold (IN-literal vocab → InSet); the corpus token
  total rides the existing write Observation — zero extra actions.
- **Span-preserving cleanup** (remove_frequent_regions): frequency is
  the same fine-grained (unit, doc) shape as the line variant; the
  rebuild is doc-local with O(n) separator-position offset remap, so
  cleaned corpora keep region structure without re-extraction.
- **ANN recall audit** (recall_audit): recall@k of IVF vs the exact
  baseline per nprobe — run on a query SAMPLE at scale (the exact side
  is the expensive half by design).
- corpus_job now routes --langs through the REAL classifier and
  carries the quality-signal drop stages (--entropy-min, --lm-*,
  --max-compression) in the one linear lineage; bench.py's
  `corpus_job_signals` headline measures the everything-on pipeline.

## Bench hygiene finding (round 3, affects any mixed UDF/JVM workload)

A mapInPandas stage leaves Arrow/direct byte buffers that are only
reclaimed at the next GC; a shuffle-heavy JVM stage scheduled right
after one ran 72 s vs 12 s after an explicit 0.1 s System.gc().
bench.py now GCs untimed before each timed query. On a real cluster
the analog is executor memoryOverhead headroom for UDF-heavy stages —
the buffers live off-heap, outside spark.memory.fraction.

Round 4 adds the gate that makes the hygiene rule checkable: bench.py
emits `load_1m_start` (sampled before any Spark work — the co-tenant
level; accept numbers only when < ~3) alongside the finish-time
`load_1m` (which includes the bench's own 32-core load and reads
~CPUS even on a quiet box).

Round 5 closes the gate's blind spot (BENCH_r04's corpus_job=44.8 s
recorded at gate-passing start-load 1.7 — the flare arrived minutes
after the single sample): every timed attempt now carries its OWN
co-tenant measurement, taken DURING the run by attributing CPU —
host busy jiffies (/proc/stat) minus this container's cpuacct usage =
external cores burned while the attempt executed. The 1-min loadavg
cannot do this per-attempt (the bench's own 32-core bursts dominate
it for ~2 min after every run); direct attribution is immune to
self-load (verified: a 2-core self-burn reads ~0.02 external cores).
bench.py emits per-run `{"t": sec, "ext_cores": n}` evidence under
"runs" and takes the overall-fastest attempt as the standing number —
external load can only SLOW a run, so a fast attempt is valid
evidence even if it measured hot; the one-sided risk is a flare-hit
FASTEST attempt (possibly still inflated), and exactly that case
earns up to 2 bounded retries. A co-tenant burst is now visible in
the artifact instead of silently becoming the headline.

## Round-5 surface: abstaining lang-id, loadable BPE vocab, span-preserving scrubbing, persistent IVF

- **Lang-id abstention** (--lang-margin): frozen per-char top-2 gap
  rule routes out-of-inventory languages to 'und' instead of a
  confident misbin; quality is MEASURED on a held-out fixture
  (41/44 in-inventory correct, 8/12 out-of-inventory abstained,
  Korean 4/4 — exact counts pinned; langid_confusion contract key
  replays scoring + margin through the DuckDB oracle). Same fused
  extraction pass — still ONE python stage, zero new shuffles.
- **Loadable BPE vocabulary** (--bpe-vocab): the greedy fold's CASE
  arms and max piece length derive from the loaded piece table
  (parquet/csv, model-sized collect); token budgets can now be
  metered in the actual training tokenizer's tokens. Still one
  pure-JVM column fold inside the scan.
- **Span-preserving cleaning in the job** (--preserve-spans):
  <output>_clean carries REMAPPED region_spans that slice clean_text
  exactly — clean text + region structure without re-extraction.
- **Span-preserving PII scrub** (--redact-pii, redact_pii_spans):
  per-region redaction + O(n) separator-position offset remap, ZERO
  shuffle (pure per-document column math); sound because no PII
  pattern can cross a region boundary (every character class
  excludes the separator).
- **Persistent IVF index** (build_ivf_index / ivf_add_batch): the
  index lives as tables (assignments are ids-only; centroid stats
  frozen as the drift baseline); new batches assign to existing
  centroids via one broadcast pass + an id-keyed anti-join
  (batch-vs-index, the merge_corpus discipline) and return a
  per-list drift report that says when to recluster. Contract key
  ann_ivf_incremental proves batch-built == incrementally-updated
  assignment parity through the persisted tables.
- **CCNet safe defaults**: cutoff derivation is percentile_approx +
  an automatic localCheckpoint (plan-tested single evaluation of the
  upstream); exact percentiles are the opt-in the oracle pins.
- **Streaming parity**: stream_job now carries --blocklist,
  --count-bpe, --bpe-vocab, --lang-margin, --quality-clf, and projects
  a FIXED sink schema (null-filled signals for disabled stages) so
  checkpointed restarts with different flags cannot fork the parquet
  schema.
- **Persistent LSH dedup index** (build_lsh_index / lsh_add_batch):
  the band table (k longs per doc) lives as a table with its banding
  parameters pinned; each crawl batch bands ONCE and joins
  batch-vs-index + batch-vs-batch — the indexed corpus never
  re-shingles (cross_corpus_candidates re-banded it per call).
  Contract key proves candidate parity with the recompute forms.
- **Per-domain caps** (domain_cap): at most N docs per domain,
  deterministic by hashed key, as a two-phase top-k (salt-partial →
  final) so a hot domain never sorts through one task; plan-tested —
  Spark additionally compiles the rank filters to partial
  WindowGroupLimit top-k before each shuffle. Oracle = the global
  window it exactly equals.
- **Token-budget subsetting** (token_budget_sample): 'give me B
  tokens' as a distributed prefix-sum (contiguous hash-range groups,
  driver-summed offsets, bounded within-group windows) — plan-tested
  no global window; oracle = the one-task running sum it equals.
- **Exact-host blocklist** (with_host_blocked): host-granular sibling
  of the registered-domain pass, entries normalized through the same
  derivation, broadcast join.
- **Learned quality classifier** (operators/quality_clf +
  --quality-clf on both jobs): fastText-shaped hashed bag-of-tokens
  logistic model, trained deterministically from committed seeds,
  scored as ONE pure-JVM expression (weight array literal + the
  repo's frozen polynomial hash; round-6 LOGIT — no transcendentals
  cross-engine). Funnel stage with dropped_clf accounting; zero-token
  docs keep (no evidence). Weights digest-pinned like the langid
  model; coverage caveat documented (toy seeds → out-of-vocabulary
  text scores ≈ bias).

## Round-5 session-3 surface: discovery, diffing, segmentation, training

- **Sitemap harvest + robots Sitemap:/Crawl-delay** (operators/
  sitemaps, robots.crawl_delays): scan-stage column math over
  host-grain fetch tables (orders of magnitude below page grain);
  the line grammar has ONE home (robots.logical_lines) shared by the
  rule parser, the delay harvest and the sitemap-directive harvest.
- **Frontier planning job** (jobs/frontier_job.py): sitemaps → REP
  longest-match filter → Bloom seen-set (broadcast bit table, no
  false negatives) → PageRank priority + crawl-delay columns. The one
  corpus-sized input enters only as the bloom table; drop accounting
  rides the terminal write as Observations; output deliberately
  unsorted (frontier ordering is the consumer's top-k problem).
- **Cross-snapshot corpus diff** (operators/snapshots + corpus_job
  --diff-prev): full-outer on the url key with SCAN-SIDE md5, so the
  shuffle carries 32-byte digests, never text — the batch-vs-corpus
  incremental-merge shape at 10^12 rows.
- **Sentence segmentation with spans** (operators/sentences): frozen
  regular boundary rule, offsets from unit-length sums (scalar
  aggregate per start — no per-character scan, no array_append
  accumulator), zero shuffle; the oracle derives the same spans via
  the independent window-prefix-sum route.
- **BPE merge training** (operators/bpe.train_merges): the
  distributed part of BPE training is the ONE corpus-sized
  word-frequency shuffle; the k merge rounds then run over the
  vocabulary-grain table (distributed loop with run-parity greedy
  application == the driver in-memory loop, pinned equal; the
  production shape for real k~30k is the driver loop over the
  model-sized collected table). Gate lesson: DuckDB inlines CTEs per
  reference — the unrolled-round oracle needs MATERIALIZED or it
  re-executes the chain exponentially (7 min → 33 s).
- **Charset repair** (functions/charset + --sniff-charset on all
  three jobs): pure-JVM sniff (BOM hex-prefix > meta > default);
  only the legacy/BOM tail pays the Python decode. Stated honestly:
  the union reads the source twice (the sniff predicate is not
  pushable) — the trade keeps the >95% clean majority at zero Python
  cost; scan-I/O-bound pipelines should persist the charset column.
- **Punctuation folding** (functions/normalize.punct_fold_col): 1:1
  translate, length-preserving and therefore span-safe by default.
## Round-5 session-4 surface: sketches, scheduling, dispatch, mixtures

- **HyperLogLog / count-min sketches** (operators/sketches): the
  answers to "distinct urls per host" and "globally frequent tokens"
  that never shuffle key-grain data. HLL register build = ONE
  (group, reg) exchange with map-side partial max (≤ r rows per group
  per map partition); register tables MERGE by max — proven through
  the gate (hll_merge_parity: Spark merges shard sketches, the oracle
  builds once). Count-min's build shuffle is bounded at d·w rows per
  map partition regardless of corpus size; heavy hitters surface with
  NO false negatives and exact-verify prunes the rest (the LSH
  find-then-verify discipline). Measured estimator quality: 14.4% RMS
  over ten adversarial key shapes at r=64 vs the 13.0% theoretical —
  after a measured lesson: the polynomial fold's raw trailing bits
  biased estimates 2×, so HLL finalizes through a Mueller integer mix
  chosen because every product stays under 2^63 (ANSI-legal BIGINT
  math both engines restate bit-for-bit).
- **HITS hubs/authorities** (operators/linkgraph.hits): PageRank's
  complement — host-grain rounds, two shuffle joins per round, L1
  normalizers as 1-row broadcasts, localCheckpoint-bounded lineage.
- **Crawl-wave planner** (operators/robots.crawl_waves + frontier_job
  --wave-seconds): politeness intervals → dispatch rounds. One
  host-partitioned window; `wave` is the WRITE-PARTITION column so
  each dispatch round reads exactly one partition (partition pruning
  is the 100 TB reason it is a column, not a sort order).
- **Index lifecycle closed** (operators/index.delete_docs): tombstone
  anti-join whose BM25 statistics exactly equal a from-scratch
  rebuild over the survivors (gate key vs an oracle that never
  indexed the deleted docs) — no stale-idf poisoning; delete-then-
  re-add restores the index bit-for-bit.
- **Magic-byte ingestion gate** (functions/multimodal.
  with_content_type + --sniff-content-type on corpus/stream jobs):
  mislabeled pdfs/images/archives drop BEFORE extraction and never
  pay kernel time. The entire classification runs in the HEX domain —
  blob→varchar casts are not engine-parity-safe (DuckDB escapes,
  Spark replaces); hex is.
- **JSON-LD harvest** (operators/headmeta.jsonld_types): scan-stage
  regex + JVM JSON path extraction; parse failures stay countable.
- **Epoch shuffle** (operators/sampling.shuffle_assignment): a
  reproducible global permutation as (shard, pos) COLUMNS — one
  shard-keyed exchange with per-shard bounded sorts; n_shards is the
  knob that keeps any single sort partition-sized (2^16 shards →
  ~1.5 GB per sort at 100 TB). Never a global range exchange.
- **Mixture application** (operators/sampling.mixture_keep_probs +
  apply_mixture): temperature shares → keep probabilities with
  maximal retention (c = min p/q: the most-upweighted language keeps
  100%) → content-addressed row filter. Languages-grain broadcast
  join; the row decision is the same zero-shuffle bucket predicate as
  every other sampler in the repo.
"""


if __name__ == "__main__":
    main()
