"""Payload validation: the row-balanced stage that checks crawled images
by ``image_id`` and the corpus validator share one per-row verdict; a
verdict the row carries nothing to check is null, and a malformed row is a
failed verdict, never a failed task."""

from marginaliasearch_spark.plans.validate import validate_image_ids, validate_payloads
from marginaliasearch_spark.sources.corpus import corpus_row


def _rows(df):
    return {r["image_id"]: r for r in df.toArrow().to_pylist()}


def test_validate_image_ids_stage(spark):
    """Every corpus image decodes, lossy rows clear the PSNR floor,
    lossless rows are pixel-exact, the codec column reflects the real
    backend per fmt, and the caption/phash verdicts are null: a crawl row
    stores neither."""
    df = spark.createDataFrame(
        [(f"img-{i:010d}",) for i in range(30)] + [(None,)],
        "image_id string",
    )
    v = list(_rows(validate_image_ids(df, seed=42)).values())
    assert len(v) == 30  # NULL image_id ignored
    for r in v:
        idx = int(r["image_id"].split("-")[1])
        assert r["decode_ok"] and r["psnr_ok"], r
        assert r["codec"] == ("png", "jpeg", "stub")[idx % 3], r
        assert r["caption_ok"] is None and r["phash_match"] is None, r
        assert r["phash_hamming"] is None, r
        if r["fmt"] in ("jpeg", "webp"):
            # real (finite) PSNR above the floor -> genuinely lossy
            assert 40.0 <= r["psnr_db"] < 900.0, r
        else:
            assert r["psnr_db"] == 999.0, r  # exact pixels


def test_validators_fail_malformed_rows(spark):
    """Planted malformed ids (both validators) and a truncated PNG
    (validate_payloads): one failed verdict row each, no task failure."""
    bad_ids = ["img-x", "img", ""]
    v = _rows(validate_image_ids(
        spark.createDataFrame([(i,) for i in bad_ids + ["img-0000000001"]], "image_id string"),
        seed=42,
    ))
    assert len(v) == 4
    assert v["img-0000000001"]["decode_ok"]
    for i in bad_ids:
        r = v[i]
        assert not r["decode_ok"] and not r["psnr_ok"], r
        assert (r["fmt"], r["codec"]) == ("", ""), r
        assert r["caption_ok"] is None and r["phash_match"] is None, r

    good, png = corpus_row(42, 1), corpus_row(42, 0)
    assert png["fmt"] == "png"
    rows = [dict(good, image_id=i) for i in bad_ids]
    rows.append(dict(png, bytes=png["bytes"][: len(png["bytes"]) // 2]))
    rows.append(good)
    corpus = spark.createDataFrame(
        [(r["image_id"], r["bytes"], r["fmt"], r["caption"], int(r["phash"])) for r in rows],
        "image_id string, bytes binary, fmt string, caption string, phash long",
    )
    v = _rows(validate_payloads(corpus, seed=42))
    assert len(v) == 5
    assert all(v[good["image_id"]][c] for c in ("decode_ok", "psnr_ok", "caption_ok", "phash_match"))
    truncated = v[png["image_id"]]
    assert truncated["codec"] == "png" and truncated["fmt"] == "png"
    for r in [v[i] for i in bad_ids] + [truncated]:
        assert not r["decode_ok"] and not r["psnr_ok"], r
        # checked verdicts of a failed row fail, they are not null
        assert r["caption_ok"] is False and r["phash_match"] is False, r
