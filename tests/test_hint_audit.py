"""Every broadcast hint has a reason: the package hints only inputs
whose size is fixed, set by the caller, or decided by link's observed
gate. Growing inputs are left to the 16 MB auto-broadcast threshold and
AQE's runtime conversion (``tests/test_broadcast.py`` builds that bad
shape)."""

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "ldtab_clj_spark"

# (module, function, hinted argument) → why the hint stays
ALLOWED = {
    ("queries.py", "j5_prefix_longest_match", "pfx"):
        "fixed dim: the 3-row prefix literal",
    ("queries.py", "tpch_q5", "r"):
        "fixed dim: the ASIA region row",
    ("queries.py", "tpch_q5", "asia_n.select('n_nationkey')"):
        "fixed dim: the 5 ASIA nation keys",
    ("queries.py", "kg_mention_extract", "vocab"):
        "fixed dim: the 4-word vocabulary literal",
    ("operators/similarity.py", "cosine_topk", "qs"):
        "caller-sized query set",
    ("operators/similarity.py", "ivf_cosine_topk", "cent"):
        "caller-sized: n_centroids rows",
    ("operators/similarity.py", "ivf_cosine_topk", "probes"):
        "caller-sized: n_probe rows per query",
    ("operators/similarity.py", "lsh_cosine_topk", "qs"):
        "caller-sized query set",
    ("operators/link.py", "_resolve_column",
     "_keys(winners, ent.alias('_ent'))"):
        "link's gate: the observed tail fits BROADCAST_TAIL_MAX_ROWS",
    ("operators/link.py", "_resolve_column", "head_k"):
        "link's gate: the head dict of the salted branch",
}

_SQL_HINT = re.compile(r"BROADCAST\(\s*([^)]*?)\s*\)", re.IGNORECASE)


def _hint_sites():
    for f in sorted(PKG.rglob("*.py")):
        rel = f.relative_to(PKG).as_posix()
        # each site once, under its top-level function (or <module>)
        for top in ast.parse(f.read_text()).body:
            where = getattr(top, "name", "<module>")
            for n in ast.walk(top):
                if isinstance(n, ast.Call) \
                        and isinstance(n.func, ast.Attribute) \
                        and n.func.attr == "broadcast":
                    yield rel, where, ast.unparse(n.args[0])
                elif isinstance(n, ast.Constant) \
                        and isinstance(n.value, str):
                    for arg in _SQL_HINT.findall(n.value):
                        yield rel, where, arg


def test_every_broadcast_hint_is_allowed():
    sites = list(_hint_sites())
    assert set(sites) == set(ALLOWED)
    assert len(sites) == len(ALLOWED), "one hint per allowed entry"
