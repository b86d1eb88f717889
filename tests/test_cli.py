"""End-to-end CLI test: manifest file (with every reference wart) →
key-sorted TSV part files, mirroring the §3.1/§3.3 entry points."""

from __future__ import annotations

import glob


def test_cli_manifest_to_tsv(spark, tmp_path):
    # manifest with the reference warts: blank, whitespace-only,
    # comment, duplicate line, BOM line, padded line
    manifest = tmp_path / "imagelist.txt"
    manifest.write_text(
        "﻿/user/binh/garbage/shoes/shoes_1.jpg\n"
        "\n"
        "   \n"
        "# a comment\n"
        "/data/img/b.jpg\n"
        "/data/img/b.jpg\n"
        "  /data/img/a.jpg  \n"
    )
    out = tmp_path / "out"

    from swat_mapreduce_spark.cli import main

    rc = main([str(manifest), str(out)])
    assert rc == 0

    lines = []
    for part in glob.glob(f"{out}/part-*"):
        with open(part) as f:
            lines += [ln.rstrip("\n") for ln in f if ln.strip()]
    # 4 surviving rows: BOM line, b.jpg x2 (duplicate preserved), a.jpg
    assert len(lines) == 4
    # layout: path \t class,prob with %.4f
    for ln in lines:
        path, kv = ln.split("\t")
        cls, prob = kv.rsplit(",", 1)
        assert cls and len(prob.split(".")[1]) == 4
    # duplicates preserved, key-sorted; the file-leading BOM is
    # stripped by Spark's text source (documented divergence — the
    # BOM wart is pinned by the synthetic-manifest oracle instead)
    paths = [ln.split("\t")[0] for ln in sorted(lines)]
    assert paths.count("/data/img/b.jpg") == 2
    assert "/user/binh/garbage/shoes/shoes_1.jpg" in paths
    assert not any(p.startswith("﻿") for p in paths)
    assert paths == sorted(paths)


def test_cli_custom_labels(spark, tmp_path):
    # pred_idx: /x/one.jpg 13, /x/two.jpg 11, /x/23.jpg 1, /x/9.jpg 2;
    # an index past the vocabulary falls back to names[0]
    manifest = tmp_path / "m.txt"
    manifest.write_text("/x/one.jpg\n/x/two.jpg\n/x/23.jpg\n/x/9.jpg\n")

    from swat_mapreduce_spark.cli import main

    vocabularies = [
        ["cat", "dog"],
        ["cat", "dog", "eel"],
        ["it's", "back\\slash", "\\'both'\\"],
    ]
    for k, names in enumerate(vocabularies):
        labels = tmp_path / f"labels{k}.txt"
        labels.write_text("".join(n + "\n" for n in names))
        out = tmp_path / f"out{k}"
        assert main([str(manifest), str(out), "--labels", str(labels)]) == 0
        lines = []
        for part in glob.glob(f"{out}/part-*"):
            with open(part) as f:
                lines += [ln for ln in f if ln.strip()]
        got = {
            ln.split("\t")[0]: ln.split("\t")[1].rsplit(",", 1)[0]
            for ln in lines
        }
        assert got == {
            "/x/one.jpg": names[0],
            "/x/two.jpg": names[0],
            "/x/23.jpg": names[1],
            "/x/9.jpg": names[2] if len(names) > 2 else names[0],
        }


def test_cli_restores_arrow_batch_conf(spark, tmp_path):
    """--batch-size must not leak into the shared session: a later
    predict_batch in the same process keeps its own Arrow batch size."""
    manifest = tmp_path / "m.txt"
    manifest.write_text("/x/one.jpg\n")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)

    from swat_mapreduce_spark.cli import main

    assert main([str(manifest), str(tmp_path / "o1"), "--batch-size", "7"]) == 0
    assert spark.conf.get(key) == before
    assert main([str(manifest), str(tmp_path / "o2")]) == 0
    assert spark.conf.get(key) == before


def test_cli_job_shape(spark, tmp_path):
    """One sorted CLI run is exactly four jobs: the label-dim broadcast,
    the range-sort sample, the shuffle map and the write. The output is
    not read back. The broadcast still costs a job although the dim is
    a LocalRelation: BroadcastExchangeExec collects its child through
    an RDD, and LocalTableScanExec does not short-cut that path."""
    manifest = tmp_path / "m.txt"
    manifest.write_text("".join(f"/x/{i}.jpg\n" for i in range(50)))

    from swat_mapreduce_spark.cli import main

    sc = spark.sparkContext
    jobs = {}
    for mode, extra in (("sorted", []), ("unsorted", ["--no-sort"])):
        group = f"cli-job-shape-{mode}"
        sc.setJobGroup(group, "cli job count")
        try:
            assert main([str(manifest), str(tmp_path / mode), *extra]) == 0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs[mode] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs == {"sorted": 4, "unsorted": 2}


def test_cli_bad_args_exit_code():
    """Arg-count validation parity (java/PredictDriverCluster.java:17-20):
    missing args → non-zero exit."""
    import pytest

    from swat_mapreduce_spark.cli import main

    with pytest.raises(SystemExit) as e:
        main(["only_one_arg"])
    assert e.value.code == 2


def test_query_cli_list_and_unknown(capsys):
    from swat_mapreduce_spark.query_cli import main

    assert main(["--list"]) == 0
    out = capsys.readouterr().out.splitlines()
    names = [ln.split(" ")[0] for ln in out]
    assert "q1_pricing_summary" in names and len(names) > 150
    # every registered query advertises its oracle in the listing
    assert "q1_pricing_summary [oracle]" in out
    assert main(["definitely_not_a_query"]) == 2
