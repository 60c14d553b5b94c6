"""Crawl-engine operators: politeness, robots gating, priority queue and
the frontier loop, whose URL-seen set is an exact anti-join against its
seen log (SURVEY.md §2.B E4-E12), plus the
engine-level crawl semantics beyond the reference: redirect-chain
resolution (redirects.py), adaptive recrawl + crawl-over-crawl delta
(recrawl.py), revisit dedup (revisit.py), and crawl-trap detection
(traps.py)."""

