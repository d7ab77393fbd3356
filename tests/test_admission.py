"""Ingest admission rounds (``dedup.ingest_batch_against_index`` then
``line_dedup.ingest_lines_against_index``): how many Spark jobs one
round runs, how many rows it shuffles and what it broadcasts, read
per job group from the status tracker and the application status
store."""

from conftest import SF0001
from pyspark.sql import functions as F

from openai_vector_search_demo_spark.operators import dedup, line_dedup

DOCS = f"{SF0001}/documents.parquet"


def _round(spark, group, fn):
    """Run ``fn`` under job group ``group``; return ``(out, jobs,
    shuffle_write_records, jobs_outside_sql)``.  A job outside any SQL
    execution (no execution tag) is a side job such as parquet schema
    inference."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    jobs = sorted(st.getJobIdsForGroup(group))
    shuffled = sum(store.lastStageAttempt(s).shuffleWriteRecords()
                   for j in jobs for s in st.getJobInfo(j).stageIds)
    untagged = [j for j in jobs if store.job(j).jobTags().isEmpty()]
    return out, jobs, shuffled, untagged


def test_admission_round_job_budget(spark, tmp_path):
    """One band + line admission round of a 100-document batch against
    stores built from 200 documents runs at most 9 Spark jobs in
    total — counted the way the benchmark's trace counts them: the
    dedup call, then the line call with its returned documents
    materialized — and none of them is a parquet schema-inference job
    (both stores are read with fixed schemas).  The band round is a
    map-only probe of its store: it shuffles no row."""
    docs = spark.read.parquet(DOCS).select("doc_id", "text")
    band, lines = str(tmp_path / "band"), str(tmp_path / "lines")
    stored = docs.filter(F.col("doc_id") < 200)
    dedup.write_band_index(stored, band)
    line_dedup.write_line_index(stored, lines)
    # 80 unseen documents plus exact copies of 20 stored ones
    batch = (docs.filter(F.col("doc_id").between(200, 279))
             .unionByName(docs.filter(F.col("doc_id") < 20)
                          .withColumn("doc_id",
                                      F.col("doc_id") + 1000000))
             .localCheckpoint())

    matches, d_jobs, d_shuffled, d_side = _round(
        spark, "admit-dedup",
        lambda: dedup.ingest_batch_against_index(spark, batch, band))
    rejected = {r.new_id for r in matches.collect()}
    assert set(range(1000000, 1000020)) <= rejected
    assert rejected <= set(range(200, 280)) | set(range(1000000, 1000020))
    admitted = batch.filter(~F.col("doc_id").isin(sorted(rejected)))
    out, l_jobs, _, l_side = _round(
        spark, "admit-lines",
        lambda: line_dedup.ingest_lines_against_index(
            spark, admitted, lines).localCheckpoint(eager=True))
    assert out.count() == 100 - len(rejected)
    assert len(d_jobs) + len(l_jobs) <= 9, (len(d_jobs), len(l_jobs))
    assert d_shuffled == 0, d_shuffled
    assert d_side == [] and l_side == [], (d_side, l_side)


def _line_docs(spark, first: int, n: int):
    """``n`` three-line documents from id ``first``: two lines of their
    own and a footer every tenth document shares."""
    return spark.createDataFrame(
        [(i, f"own {i} head\nown {i} tail\nfooter {i % 10}")
         for i in range(first, first + n)], "doc_id long, text string")


def test_line_admission_shuffle_does_not_grow_with_the_store(spark,
                                                             tmp_path):
    """The same batch admitted against a line index ten times larger
    shuffles no more rows: only the owner rows of the batch's own line
    hashes leave the index scan, never a store-wide aggregate.  (Rows,
    not bytes: the compressed size of the same rows moves by tens of
    bytes with how the scan splits the index files.)"""
    batch = _line_docs(spark, 5000, 40).localCheckpoint()
    shuffled, kept = [], []
    for n in (200, 2000):
        store = str(tmp_path / f"lines{n}")
        line_dedup.write_line_index(_line_docs(spark, 0, n), store)
        out, _, nrows, _ = _round(
            spark, f"admit-lines-{n}",
            lambda: line_dedup.ingest_lines_against_index(
                spark, batch, store).localCheckpoint(eager=True))
        shuffled.append(nrows)
        kept.append(sorted((r.doc_id, r.n_kept) for r in out.collect()))
    assert shuffled[1] <= shuffled[0], shuffled
    # the footers are owned by stored documents in both stores
    assert kept[0] == kept[1] == [(i, 2) for i in range(5000, 5040)]


def _plans(spark, jobs):
    """The final physical plan text of every SQL execution that ran
    one of ``jobs``."""
    executions = (spark._jsparkSession.sharedState().statusStore()
                  .executionsList())
    out = []
    for i in range(executions.size()):
        ex = executions.apply(i)
        if any(ex.jobs().contains(j) for j in jobs):
            out.append(ex.physicalPlanDescription())
    return out


def _broadcast_inputs(plan: str):
    """The operator lines under each ``BroadcastExchange`` of a plan's
    tree (the text up to its first blank line)."""
    tree = plan.split("\n\n")[0].splitlines()

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    out = []
    for i, line in enumerate(tree):
        if "BroadcastExchange" in line:
            below = []
            for child in tree[i + 1:]:
                if depth(child) <= depth(line):
                    break
                below.append(child.strip(" :+-"))
            out.append(below)
    return out


def _text(rnd, vocab, n=120):
    return " ".join(rnd.choice(vocab) for _ in range(n))


def test_contaminated_batch_broadcasts_no_candidate_pairs(spark,
                                                          tmp_path):
    """A batch whose documents each have fifty stored copies: every
    copy is reported once (the pairs collide in all four bands), the
    clean documents are appended, and nothing broadcast in the round is
    derived from a join — the candidate pairs, whose number depends on
    how contaminated the batch is, never become a broadcast build
    side."""
    import random
    rnd = random.Random(7)
    vocab = [f"w{i}" for i in range(3000)]
    dirty = [_text(rnd, vocab) for _ in range(4)]
    clean = [_text(rnd, vocab) for _ in range(4)]
    band = str(tmp_path / "band")
    dedup.write_band_index(spark.createDataFrame(
        [(i * 100 + j, t) for i, t in enumerate(dirty) for j in range(50)],
        "doc_id long, text string"), band)
    batch = spark.createDataFrame(
        [(10000 + i, t) for i, t in enumerate(dirty)]
        + [(20000 + i, t) for i, t in enumerate(clean)],
        "doc_id long, text string")

    matches, jobs, _, _ = _round(
        spark, "admit-contaminated",
        lambda: dedup.ingest_batch_against_index(spark, batch, band))
    got = sorted((r.new_id, r.existing_id, r.jaccard)
                 for r in matches.collect())
    assert got == [(10000 + i, i * 100 + j, 1.0)
                   for i in range(4) for j in range(50)]
    plans = _plans(spark, jobs)
    assert plans
    joined = [b for p in plans for b in _broadcast_inputs(p)
              if any("Join" in op for op in b)]
    assert joined == []
    # the clean documents joined the store: redelivered, they match
    # themselves
    again = dedup.ingest_batch_against_index(
        spark, batch.filter(F.col("doc_id") >= 20000), band)
    assert sorted((r.new_id, r.existing_id) for r in again.collect()) \
        == [(20000 + i, 20000 + i) for i in range(4)]
