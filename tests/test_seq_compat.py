"""Q4 markup→BIO decode and Q5 subfinder vs reference semantics."""

from kgpipe.seq_compat import markup_to_bio, subfinder


def test_markup_to_bio_docstring_example():
    words, tags = markup_to_bio(
        "<Person>Obama</Person> went to <Location>New York</Location> .",
        ["Person", "Location"],
    )
    assert words == ["Obama", "went", "to", "New", "York", "."]
    assert tags == ["B-Person", "O", "O", "B-Location", "I-Location", "O"]


def test_markup_glued_tags():
    words, tags = markup_to_bio(
        "say <Person>Ada</Person>!", ["Person"]
    )
    assert words == ["say", "Ada", "!"]
    assert tags == ["O", "B-Person", "O"]


def test_markup_no_entities():
    words, tags = markup_to_bio("plain text here", ["Person"])
    assert tags == ["O", "O", "O"]


def test_subfinder_exact_and_fallback():
    toks = ["The", "Big", "Apple", "is", "big"]
    assert subfinder(toks, ["Big", "Apple"]) == [1]
    # fallback: lowercase + punctuation strip
    assert subfinder(["don't", "stop"], ["dont"]) == [0]
    assert subfinder(toks, ["missing"]) == []
    assert subfinder(toks, []) == []


def test_subfinder_tag_constraint():
    toks = ["a", "b", "a", "b"]
    tags = ["B-X", "I-X", "O", "O"]
    assert subfinder(toks, ["a", "b"], tags) == [2]


def test_align_subword_labels_reference_semantics():
    from kgpipe.seq_compat import align_subword_labels

    words = ["abcdefgh", "io", "xyzzyxyzz"]
    labels = ["B-PER", "I-PER", "O"]
    st, al = align_subword_labels(words, labels)
    assert st == ["[CLS]", "abcd", "efgh", "io", "xyzz", "yxyz", "z", "[SEP]"]
    assert al == ["-100", "B-PER", "-100", "I-PER", "O", "-100", "-100", "-100"]
    # label_all_tokens: continuations get the B->I converted label
    _, al2 = align_subword_labels(words, labels, label_all_tokens=True)
    assert al2 == ["-100", "B-PER", "I-PER", "I-PER", "O", "O", "O", "-100"]
    # empty word (double-space artifact) still yields one piece
    st3, al3 = align_subword_labels([""], ["O"])
    assert st3 == ["[CLS]", "", "[SEP]"] and al3 == ["-100", "O", "-100"]


def test_b_to_i_label_list_gate():
    from kgpipe.seq_compat import _b_to_i

    # unconditional (open taxonomy)
    assert _b_to_i("B-PER") == "I-PER"
    assert _b_to_i("I-PER") == "I-PER" and _b_to_i("O") == "O"
    # reference b_to_i_label semantics (run_ner.py:407-414): convert
    # only when the I- twin exists in the label list
    labels = ["O", "B-MISC", "B-PER", "I-PER"]
    assert _b_to_i("B-PER", labels) == "I-PER"
    assert _b_to_i("B-MISC", labels) == "B-MISC"  # no I-MISC → keep
    assert _b_to_i("O", labels) == "O"


def test_align_from_pieces_external_tokenizer():
    """Q6 adapter: a real tokenizer's non-uniform pieces-per-word plug
    straight into the alignment core — no chunk stand-in involved."""
    from kgpipe.seq_compat import align_from_pieces

    words_pieces = [["New"], ["Yo", "##rk"], ["i", "s", "##!"]]
    labels = ["B-LOC", "I-LOC", "O"]
    st, al = align_from_pieces(words_pieces, labels)
    assert st == ["[CLS]", "New", "Yo", "##rk", "i", "s", "##!", "[SEP]"]
    assert al == ["-100", "B-LOC", "I-LOC", "-100", "O", "-100", "-100", "-100"]
    # label_all_tokens + label_list gating on the continuation labels
    st2, al2 = align_from_pieces(
        [["AB", "CD"]], ["B-MISC"], label_all_tokens=True,
        label_list=["O", "B-MISC"])           # no I-MISC in taxonomy
    assert al2 == ["-100", "B-MISC", "B-MISC", "-100"]
    _, al3 = align_from_pieces(
        [["AB", "CD"]], ["B-MISC"], label_all_tokens=True,
        label_list=["O", "B-MISC", "I-MISC"])
    assert al3 == ["-100", "B-MISC", "I-MISC", "-100"]
