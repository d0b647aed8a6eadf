"""Generate the clean_html golden corpus (FIXTURES.md §5).

One fixture per semantic branch of the reference cleaner
(/root/reference/data_ops/step_03_clean_html.py:10-74) plus combined and
adversarial docs. Goldens are produced by the *sequential* pure-Python
implementation and committed; pytest asserts the distributed Arrow-UDF path
is byte-identical at any parallelism (BASELINE.json byte-identity metric).

Run once:  python scripts/gen_golden.py
Re-running must be a no-op (deterministic).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from news_crawler_slm_spark.functions.html_clean import TAGS_TO_REMOVE, clean_html

FIXDIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")


def build_cases() -> dict[str, str]:
    cases: dict[str, str] = {}

    # 1. each removed tag, with content (step_03:15-27)
    for tag in TAGS_TO_REMOVE:
        cases[f"tag_{tag}"] = (
            f"<html><body><p>before</p><{tag} data-x='1'>inside <b>bold</b></{tag}>"
            f"<p>after</p></body></html>"
        )
        cases[f"tag_{tag}_selfclose"] = (
            f"<html><body><p>a</p><{tag} attr='v'/><p>b</p></body></html>"
        )

    # 2. script-type matrix (step_03:34-37)
    cases["script_no_type"] = "<body><script>var a=1;</script><p>kept</p></body>"
    cases["script_js_type"] = '<body><script type="text/javascript">x()</script><p>k</p></body>'
    cases["script_ldjson"] = (
        '<body><script type="application/ld+json">{"@context": "schema"}</script></body>'
    )
    cases["script_ldjson_mixed_case"] = (
        '<body><script type="Application/LD+JSON">{"x": 1}</script></body>'
    )
    cases["script_ldjson_with_charset"] = (
        '<body><script type="application/ld+json; charset=utf-8">{"y": 2}</script></body>'
    )

    # 3. ad class substrings incl. radar (step_03:40-43)
    for cls in ("ad", "advertisement", "sponsored", "radar", "my-AD-box", "Sponsored-Link", "header"):
        cases[f"class_{cls}"] = (
            f'<body><div class="{cls}">X</div><section class="{cls}">Y</section>'
            f'<span class="{cls}">span kept (not div/section)</span></body>'
        )

    # 4. ad ids (step_03:45-46)
    for i in ("ad-slot", "sponsored1", "sidebar", "loaded"):  # 'loaded' contains 'ad'!
        cases[f"id_{i}"] = f'<body><div id="{i}">X</div><section id="{i}">Y</section></body>'

    # 5. inline styles (step_03:49-50)
    cases["styles"] = (
        '<body><p style="color: red">a</p><div style="x">b</div>'
        '<em style="">c</em><b class="k" style="z">d</b></body>'
    )

    # 6. comment matrix (step_03:53-69)
    cases["comment_full_tag"] = "<body><!-- pre <a href='x'>link</a> post --></body>"
    cases["comment_selfclose"] = "<body><!-- pre <img src='x'/> post --></body>"
    cases["comment_open_only"] = "<body><!-- pre <img src='x'> post --></body>"
    cases["comment_emptied"] = "<body><!--<a href='x'>gone</a>--></body>"
    cases["comment_whitespace_only_after"] = "<body><!--   <img src='x'>   --></body>"
    cases["comment_plain"] = "<body><!-- nothing removable here --></body>"
    cases["comment_multiline"] = (
        "<body><!-- line1\n<a href='x'>multi\nline link</a>\nline2 --></body>"
    )
    cases["comment_stray_close"] = "<body><!-- <a href='x'>y</a></a> tail --></body>"
    cases["comment_nested_in_div"] = (
        "<div><p>x</p><!-- <iframe src='f'></iframe> keep me --></div>"
    )

    # 7. prettify/whitespace cases
    cases["deep_nesting"] = (
        "<div><div><div><div><p>deep   text\twith\tmixed    spacing</p></div></div></div></div>"
    )
    cases["leading_trailing_blank"] = "\n\n\n<body>\n\n<p>x</p>\n\n</body>\n\n\n"
    cases["pre_block"] = "<body><pre>  spaced\n  code < raw\n</pre></body>"

    # 8. unicode / empty / malformed
    cases["unicode"] = "<body><p>héllo wörld — ümlaut ß 中文 \U0001f680</p></body>"
    cases["empty"] = ""
    cases["only_text"] = "just bare text, no tags"
    cases["malformed_unclosed"] = "<body><div><p>one<p>two<div>three</body>"
    cases["malformed_stray_close"] = "<body></div><p>x</p></span></body>"
    cases["attrs_entities"] = (
        '<body><p title="a &amp; b" data-q=\'say "hi"\'>t &lt; u &amp; v</p></body>'
    )
    cases["boolean_attr"] = "<body><input disabled><p hidden>x</p></body>"
    cases["doctype_and_pi"] = "<!DOCTYPE html><?xml-stylesheet href='x'?><body><p>y</p></body>"

    # 9. combined kitchen-sink
    cases["kitchen_sink"] = (
        "<!DOCTYPE html>\n<html>\n<head><title>KS</title>"
        '<link rel="s" href="h"><style>.x{}</style></head>\n'
        "<body>\n<nav><a href='/'>nav</a></nav>\n"
        '<div class="content-ad">banner</div>\n'
        '<div class="article"><h1 style="f">Head</h1>'
        "<p>Body one.</p><img src='i.png'><p>Body two.</p>"
        '<script type="application/ld+json">{"keep": true}</script>'
        "<script>drop()</script></div>\n"
        "<!-- trailer <ins>adsense</ins> note -->\n"
        '<section id="footer-ad">f</section>\n'
        "</body>\n</html>"
    )

    # 10. nested removable-inside-removable (decompose-once semantics)
    cases["nested_removables"] = (
        "<body><nav><img src='x.png'><a href='/'>l</a></nav><p>k</p></body>"
    )
    cases["ad_div_containing_keepers"] = (
        '<body><div class="ad-wrap"><p>lost</p><em>also lost</em></div><p>kept</p></body>'
    )

    # 11. streaming corners: end tags that pop removed elements, removed
    # elements open at end of input, comments under raw-text parents and
    # inside removed subtrees, void/self-closing forms of kept and removed tags
    cases["misnested_close_removed_ancestor"] = "<div><a><p>x</div>y"
    cases["removed_open_at_eof"] = "<body><p>k</p><nav><p>menu<div>deep <b>er"
    cases["comment_in_pre"] = "<body><pre>a<!-- x < y & <img src=i> z -->b</pre></body>"
    cases["comment_in_textarea"] = "<body><textarea><!-- <b>t</b> & > --></textarea></body>"
    cases["ldjson_in_ad_div"] = (
        '<body><div class="ad"><script type="application/ld+json">{"k": 1}</script>'
        "</div><p>k</p></body>"
    )
    cases["comment_in_removed"] = (
        "<body><nav><!-- menu text --></nav><div id='sponsored'><p><!-- x --></p>"
        "<!DOCTYPE html></div><p>k</p></body>"
    )
    cases["void_style_and_selfclose_ad"] = (
        '<body><p>a<br style="x" class="c">b</p><div class="ad"/><p>c</p>'
        '<section id="ad-1"/><em>d</em></body>'
    )
    cases["stray_end_in_removed_nav"] = (
        "<body><nav><p>m</span></p></em></nav><p>k</p></body>"
    )

    return cases


def main() -> None:
    html_dir = os.path.join(FIXDIR, "html")
    gold_dir = os.path.join(FIXDIR, "golden")
    os.makedirs(html_dir, exist_ok=True)
    os.makedirs(gold_dir, exist_ok=True)
    cases = build_cases()
    for name, html in sorted(cases.items()):
        with open(os.path.join(html_dir, f"{name}.html"), "w", encoding="utf-8") as f:
            f.write(html)
        with open(os.path.join(gold_dir, f"{name}.txt"), "w", encoding="utf-8") as f:
            f.write(clean_html(html))
    print(f"wrote {len(cases)} fixture pairs to {FIXDIR}")


if __name__ == "__main__":
    main()
