"""Regenerate the README registry table from the live query registry —
run after adding/moving query IDs so the table never drifts from code."""
import inspect
import re

from mongo_to_clickhouse_spark.queries import registry


def main() -> None:
    reg = registry()
    lines = []
    for qid in sorted(reg):
        fn, sql = reg[qid]
        path = inspect.getsourcefile(fn).split("/root/repo/")[-1]
        line = inspect.getsourcelines(fn)[1]
        check = "oracle" if sql is not None else "rows-only"
        lines.append(f"| `{qid}` | `{path}:{line}` | {check} |")
    table = (
        "| query id | implementation | check |\n|---|---|---|\n"
        + "\n".join(lines)
        + "\n"
    )
    readme = open("README.md").read()
    # the header, then any intro paragraph (kept), then the table
    new, n = re.subn(
        r"## Registry: all \d+ query IDs\n\n((?:[^|\n][^\n]*\n)*\n)?"
        r"\| query id[^\n]*\n\|---\|---\|---\|\n(?:\|[^\n]*\n)*",
        lambda m: f"## Registry: all {len(reg)} query IDs\n\n"
        + (m.group(1) or "") + table,
        readme,
    )
    if n != 1:
        raise SystemExit("README.md: registry table not found")
    open("README.md", "w").write(new)
    n_oracle = sum(1 for _f, s in reg.values() if s is not None)
    print(f"regenerated: {len(reg)} ids, {n_oracle} oracle-checked")


if __name__ == "__main__":
    main()
