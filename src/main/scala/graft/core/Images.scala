package graft.core

/** Image-XObject enumeration — LENIENT-mode engine extension.
  *
  * The reference never reads page /XObject resources (its PdfResources only
  * projects /Font — body.rs:301-369 — and its only image-adjacent behavior is
  * the DCTDecode panic in body.rs:42-54), so strict mode exposes nothing here.
  * Behind the lenient flag this walks catalog → page tree → page resources →
  * /XObject and reports every /Subtype /Image stream's declared metadata,
  * DCT-decoding the pixel payload with the JDK's built-in JPEG reader
  * (core/Filters.scala `dctDecodeImage`) so the decoded dimensions can be
  * cross-checked against the dictionary's /Width //Height — two independent
  * sources that must agree on a well-formed file.
  */
object PdfImages {

  /** One image XObject: dictionary metadata plus (for DCTDecode payloads) the
    * pixel-decoded dims/bands and the integer sample sum. `px*` are -1 and
    * `pxSum` is -1 when the payload was not pixel-decoded (non-DCT filters —
    * their pixel layout is raw bitmap data the dict already describes).
    */
  final case class ImageXObject(
      name: String,
      width: Int,
      height: Int,
      bitsPerComponent: Int,
      colorSpace: String,
      filter: String,
      pxWidth: Int,
      pxHeight: Int,
      pxBands: Int,
      pxSum: Long
  )

  def list(ctx: Ctx, catalogOffset: Int): Vector[ImageXObject] = {
    def resolve(o: PdfObj): PdfObj = o match {
      case PRef(obj, gen, rctx) =>
        ObjParser.parseAt(rctx, rctx.offsetOf(obj, gen, "image xobject ref not found in xref table"))
      case other => other
    }
    def dictOf(o: PdfObj, what: String): Map[String, PdfObj] = resolve(o) match {
      case PDict(m) => m
      case other    => Err.fail(s"$what should be a dictionary, found $other")
    }
    def imagesOfPage(page: Map[String, PdfObj]): Vector[ImageXObject] =
      page.get("Resources").map(r => dictOf(r, "Resources")) match {
        case None => Vector.empty
        case Some(res) =>
          res.get("XObject").map(x => dictOf(x, "XObject")) match {
            case None => Vector.empty
            case Some(xobjs) =>
              xobjs.toVector.sortBy(_._1).flatMap {
                case (name, ref @ PRef(obj, gen, rctx)) =>
                  resolve(ref) match {
                    case ps: PStream => imageOf(name, ps, rctx, obj, gen)
                    case _           => None // non-stream XObject entry: not an image
                  }
                case _ => None // inline dicts/other: out of image scope
              }
          }
      }
    def walk(node: Map[String, PdfObj], depth: Int): Vector[ImageXObject] = {
      if (depth > PageTree.MaxTreeDepth) Err.fail(s"page tree deeper than ${PageTree.MaxTreeDepth}")
      node.get("Type") match {
        case Some(PName("Page")) => imagesOfPage(node)
        case Some(PName("Pages")) =>
          node.get("Kids") match {
            case Some(PArr(kids)) =>
              kids.toVector.flatMap { k =>
                PageTree.countKid(ctx)
                walk(dictOf(k, "page tree kid"), depth + 1)
              }
            case _ => Err.fail("Kids should be an array")
          }
        case _ => Vector.empty
      }
    }
    val catalog = ObjParser.parseAt(ctx, catalogOffset) match {
      case PDict(m) => m
      case _        => Err.fail("catalog should be a dictionary")
    }
    catalog.get("Pages") match {
      case Some(p) => walk(dictOf(p, "Pages"), 0)
      case None    => Vector.empty
    }
  }

  private def imageOf(name: String, ps: PStream, ctx: Ctx, obj: Int,
                      gen: Int): Option[ImageXObject] = {
    val h = ps.header
    if (!h.get("Subtype").contains(PName("Image"))) return None
    def intOf(key: String, dflt: Int): Int = h.get(key) match {
      case Some(PNum(n)) => n.toSize
      case None          => dflt
      case Some(o)       => Err.fail(s"image /$key should be numeric, found $o")
    }
    val cs = h.get("ColorSpace") match {
      case Some(PName(n)) => n
      case _              => "" // arrays (ICC/indexed) out of fixture scope
    }
    val filter = h.get("Filter") match {
      case Some(PName(n)) => n
      case _              => ""
    }
    // decryption wraps the stream OUTSIDE its filters, same as content streams
    val bs = BodyStream.of(ps, ctx, obj, gen)
    val px = bs.dict.filter match {
      case Some(DctFilter) => Some(LenientFilters.dctDecodeImage(bs.content))
      case Some(FlateDecodeFilter) | None =>
        // raw bitmap (optionally deflated): the samples carry no dims of
        // their own, so VALIDATE the dictionary's — 8-bit Gray/RGB whose
        // decoded length equals w*h*bands confirms the declared geometry;
        // anything else stays dict-metadata-only (px* = -1)
        val bands = h.get("ColorSpace") match {
          case Some(PName("DeviceGray")) => 1
          case Some(PName("DeviceRGB"))  => 3
          case _                         => 0
        }
        val w = intOf("Width", -1); val ht = intOf("Height", -1)
        if (bands > 0 && intOf("BitsPerComponent", -1) == 8 && w > 0 && ht > 0) {
          val data = bs.getDataExact
          if (data.length == w.toLong * ht * bands)
            Some(LenientFilters.DctImage(w, ht, bands, data))
          else None
        } else None
      case _ => None
    }
    var sum = -1L
    px.foreach { im =>
      sum = 0L
      var i = 0
      while (i < im.samples.length) { sum += (im.samples(i) & 0xff); i += 1 }
    }
    Some(ImageXObject(name, intOf("Width", -1), intOf("Height", -1),
      intOf("BitsPerComponent", -1), cs, filter,
      px.map(_.width).getOrElse(-1), px.map(_.height).getOrElse(-1),
      px.map(_.bands).getOrElse(-1), sum))
  }
}
