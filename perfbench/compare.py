"""Output-vs-oracle comparator: every output turn against its oracle digest."""

from __future__ import annotations

from collections import Counter

from inputs import digest

OUTPUT_COLUMNS = ["conv_id", "turn_idx", "payload_kind", "n_dropped", "extracted_text", "spans"]


def output_digests(tbl):
    """Arrow table of extraction output → [((conv_id, turn_idx), digest)]."""
    import pyarrow as pa

    c = {name: tbl[name].to_pylist() for name in OUTPUT_COLUMNS if name != "spans"}
    spans = tbl["spans"].combine_chunks() if tbl.num_rows else pa.array([], tbl.schema.field("spans").type)
    flat = spans.flatten()
    fields = [flat.field(f).to_pylist() for f in ("span_idx", "kind", "text", "score", "bbox")]
    rows = list(zip(*fields))
    offsets = spans.offsets.to_pylist()
    offsets = [o - offsets[0] for o in offsets]
    out = []
    for r, (cid, t, kind, nd, text) in enumerate(
        zip(c["conv_id"], c["turn_idx"], c["payload_kind"], c["n_dropped"], c["extracted_text"])
    ):
        out.append(((cid, t), digest(kind, nd, text, rows[offsets[r] : offsets[r + 1]])))
    return out


def compare(expected: dict, observed) -> dict:
    """Count failed turns of one output against ``expected`` {key: digest}.

    - missing: an input turn with no output row;
    - duplicated: each output row beyond the first for one turn;
    - altered: each output row whose digest differs from the oracle's;
    - unexpected: an output row for a turn the input does not have.
    """
    seen = Counter()
    altered = unexpected = 0
    for key, dg in observed:
        seen[key] += 1
        want = expected.get(key)
        if want is None:
            unexpected += 1
        elif dg != want:
            altered += 1
    missing = sum(1 for k in expected if k not in seen)
    duplicated = sum(n - 1 for k, n in seen.items() if n > 1 and k in expected)
    return {
        "checked": sum(seen.values()),
        "missing": missing,
        "duplicated": duplicated,
        "altered": altered,
        "unexpected": unexpected,
        "failed": missing + duplicated + altered + unexpected,
    }
