#!/usr/bin/env python3
"""Compare two oracle_sql.json files (as graft.Verify writes them) key by
key, token for token: each key's SQL is compared after
" ".join(s.split()), so layout may move but no token may change.
Lists the changed, added and removed keys.
Usage: oracle_diff.py <old oracle_sql.json> <new oracle_sql.json>
Exit 1 if any shared key's SQL changed.
"""
import json, sys


def tokens(sql):
    return " ".join(sql.split())


old, new = (json.load(open(p)) for p in sys.argv[1:3])
shared = sorted(set(old) & set(new))
changed = [k for k in shared if tokens(old[k]) != tokens(new[k])]
added, removed = sorted(set(new) - set(old)), sorted(set(old) - set(new))
print(f"{len(shared)} shared keys: {len(shared) - len(changed)} token-identical, "
      f"{len(changed)} changed")
for label, keys in (("changed", changed), ("added", added), ("removed", removed)):
    if keys:
        print(f"{label}: {', '.join(keys)}")
sys.exit(1 if changed else 0)
