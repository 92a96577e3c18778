package graft.classify

import graft.html.{Block, BlockTable}

/** Boilerpipe/Readability-family block classifier, re-derived natively:
  * deterministic text-density / link-density rules over flat blocks
  * (BASELINE.json north_star: "text-density/link-density DOM heuristics").
  *
  * The reference has no such component (its model learns layout
  * end-to-end); these rules are the non-neural re-derivation of its
  * content/no-content decision, mirroring the published Boilerpipe
  * NumWordsRules shape: link-density gate + word-count gate, with
  * semantic-HTML5 containers (nav/footer/aside/header/form) as hard
  * boilerplate evidence.
  */
object BlockClassifier {

  /** Max link density a content block may have (Boilerpipe uses 1/3). */
  final val MaxLinkDensity = 0.333333
  /** Free-floating text (div/section/body) needs this much mass. */
  final val MinFreeTextWords = 8
  /** Structured content (li/dt/dd) needs a minimum of substance. */
  final val MinListItemWords = 2

  /** Tags that are content whenever they carry text and pass the
    * link-density gate. r6: a literal match (compiles to a hashCode
    * switch over mostly hash-memoized interned names) instead of an
    * immutable-Set trie walk — keep() runs once per block per doc. */
  private def isContentTag(k: String): Boolean = k match {
    case "p" | "pre" | "blockquote" | "table" | "caption" |
         "figcaption" | "td" | "summary" => true
    case _ => false
  }

  def keep(b: Block): Boolean =
    rule(b.kind, b.text.isEmpty, b.words, b.linkChars, b.totalChars, b.inBoilerplateContainer)

  /** The same verdict for row `r` of a block table (the kernel's form). */
  def keep(t: BlockTable, r: Int): Boolean =
    rule(t.kind(r), t.textLen(r) == 0, t.words(r), t.linkChars(r), t.textLen(r), t.boiler(r))

  private def rule(kind: String, empty: Boolean, words: Int, linkChars: Int,
      totalChars: Int, boiler: Boolean): Boolean = {
    if (empty || boiler) false
    else {
      val linkDensity = if (totalChars == 0) 0.0 else linkChars.toDouble / totalChars.toDouble
      if (linkDensity > MaxLinkDensity) false
      else if (Block.headingLevel(kind) > 0) words >= 1
      else if (isContentTag(kind)) true
      else if (kind == "li" || kind == "dt" || kind == "dd")
        words >= MinListItemWords && linkDensity <= 0.2
      else words >= MinFreeTextWords
    }
  }
}
