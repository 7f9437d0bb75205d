"""Output checks. Each returns (attempted, failed, notes): the number of
operations the run attempted and how many of them failed or produced a
wrong result."""
import glob
import os

import pyarrow.parquet as pq


def check_satellite(raw, plant):
    """Appended rows per date equal the planted selectable images, each
    replay appends nothing, every appended row has its 3 artifacts, and
    the stored statistics equal the generator's analytic values."""
    notes, failed, attempted = [], 0, 0
    expected = plant["expected"]
    for e in raw["episodes"]:
        for d in e["days"]:
            attempted += 2
            want = len(expected[d["date"]])
            if d["appended"] != want:
                failed += 1
                notes.append(f"{d['date']}: appended {d['appended']}, planted {want}")
            if d["replay_appended"] != 0:
                failed += 1
                notes.append(f"{d['date']}: replay appended {d['replay_appended']}")
    files = glob.glob(os.path.join(raw["sink_dir"], "*.parquet"))
    rows = pq.ParquetDataset(files).read().to_pylist()
    by_ee = {r["ee_id"]: r for r in rows}
    art = raw["artifact_dir"]
    wrong = 0
    for date, images in expected.items():
        for img in images:
            r = by_ee.get(img["ee_id"])
            if r is None or r["waterbody_id"] != img["waterbody_id"]:
                wrong += 1
                notes.append(f"{img['ee_id']}: missing from the sink")
                continue
            clipped = r["filename"][:-len(".tif")] + "_clipped.tif"
            for f in (r["filename"], r["thumbnail_filename"], clipped):
                if not os.path.isfile(os.path.join(art, f)):
                    wrong += 1
                    notes.append(f"{img['ee_id']}: artifact {f} missing")
            for c in ("red_average", "green_average", "blue_average", "white_fraction"):
                if r[c] is None or abs(r[c] - img[c]) > 1e-9:
                    wrong += 1
                    notes.append(f"{img['ee_id']}: {c} {r[c]} != {img[c]}")
    if wrong:  # the last episode's days produced wrong rows
        failed += len(raw["episodes"][-1]["days"])
    return attempted, min(failed, attempted), notes[:20]


def check_index(raw, plant):
    """Admitted/rejected counts equal the plant, and after each batch the
    re-opened indexes serve that batch's planted fresh document and
    vector."""
    notes, failed, attempted = [], 0, 0
    for e in raw["episodes"]:
        attempted += 1  # the build
        for k, (b, want) in enumerate(zip(e["batches"], plant["batches"])):
            ops = 2 + len(b["serve_calls"])
            attempted += ops
            errs = [f"{key} {b[key]} != {want[key]}" for key in
                    ("docs_admitted", "docs_rejected", "vectors_admitted", "vectors_rejected")
                    if b[key] != want[key]]
            if b["probe_doc_stage"] != "exact_dedup":
                errs.append(f"probe doc verdict {b['probe_doc_stage']}")
            if b["probe_vec_matches"] < 1:
                errs.append("probe vector not served")
            if errs:
                failed += ops
                notes.append(f"batch {k}: " + "; ".join(errs))
    return attempted, failed, notes
