"""Result comparison by the rules of the repository's oracle check
(`tools/check_oracle.py`): same column names, same row count, and equal
values once both sides are sorted by every column (NaN equals NaN).
"""
import pandas as pd


def compare(got: pd.DataFrame, want: pd.DataFrame) -> tuple[bool, str]:
    """Returns (equal, explanation)."""
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        return False, f"cols {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return False, f"rows {len(got)} != {len(want)}"
    cols = list(got.columns)
    g = got.sort_values(by=cols).reset_index(drop=True)
    w = want.sort_values(by=cols).reset_index(drop=True)
    msgs = []
    ok = True
    for c in cols:
        if str(g[c].dtype) != str(w[c].dtype):
            msgs.append(f"dtype[{c}] {g[c].dtype} != {w[c].dtype}")
        eq = (g[c] == w[c]) | (g[c].isna() & w[c].isna())
        if not eq.all():
            ok = False
            bad = (~eq).idxmax()
            msgs.append(f"value[{c}] row{bad}: {g[c][bad]!r} != {w[c][bad]!r} "
                        f"({(~eq).sum()} diffs)")
    return ok, "; ".join(msgs)
